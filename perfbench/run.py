#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a graft checkout. It builds the library and the load
generators from source (sbt, offline), generates the workload's inputs from
the seed, starts the program in its own JVM, drives a closed-loop load for
`--seconds` seconds, checks every output against DuckDB and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` prints the end-to-end metrics; `--trace 1` registers the
listeners and prints the per-layer metrics instead. The line before it
records the host: /proc/stat steal and idle ticks and the load average.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# latency_tail_ms: the highest percentile with at least ten samples beyond
# it at the workload's op count per run (MinOps in the Scala load generators)
TAIL_PERCENTILE = {"dashboard_gateway": 90, "stream_events": 75}
RUN_DEADLINE_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def metric_units():
    """Name -> unit of every metric BENCHMARK.json declares, by kind."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]}
            for kind in ("end_to_end", "per_layer")}


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile once per source tree; returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = os.path.join(HERE, "target", "sources.sha256")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "writeClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=max(60, deadline - time.time()))
    if p.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


def cpu_ticks():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice
    return {"total": sum(v[:8]), "idle": v[3] + v[4], "steal": v[7]}


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def jvm(cp, opts, work, log, deadline):
    """Run the load generator to completion; returns (result, spawn time)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + [a for p in JVM_OPENS for a in ("--add-opens",
                                                        p + "=ALL-UNNAMED")]
           # heap committed and touched at start: left to grow, peak RSS
           # follows G1's sizing and its run-to-run spread reaches 0.2
           + ["-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-cp", cp, "graftbench.Main"] + opts)
    t0 = time.time()
    with open(log, "ab") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=lf, cwd=work)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"load generator timed out (log: {log})")
    if rc != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"load generator exited {rc} (log: {log})")
    return json.load(open(opts[opts.index("--out") + 1])), t0


def percentile(sorted_ms, pct):
    """Nearest rank: the smallest value with pct% of samples at or below."""
    k = max(0, -(-len(sorted_ms) * pct // 100) - 1)
    return sorted_ms[int(k)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(TAIL_PERCENTILE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala",
                                       "graft"))):
        fail(f"no graft sources under {ROOT}; run from a full checkout")
    import check
    import gen
    units = metric_units()
    tail_pct = TAIL_PERCENTILE[a.workload]
    cp = build(start + 840)
    deadline = time.time() + RUN_DEADLINE_S

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    run = os.path.join(base, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    data = os.path.join(run, "data")
    t_gen = time.time()
    gen.generate(a.workload, a.seed, data, a.seconds)
    t_gen = time.time() - t_gen

    nproc = os.cpu_count() or 1
    common = ["--workload", a.workload, "--data", data,
              "--seconds", str(a.seconds), "--threads", str(min(4, nproc)),
              "--clients", str(min(2, nproc))]
    log = os.path.join(run, "jvm.log")
    work = os.path.join(run, "work")
    ticks0, load0 = cpu_ticks(), loadavg()
    r, t0 = jvm(cp, common + ["--work", work, "--trace", str(a.trace),
                              "--out", os.path.join(work, "result.json")],
                work, log, deadline)
    t_program = time.time() - t0
    ticks1, load1 = cpu_ticks(), loadavg()

    t_check = time.time()
    attempted, failed = r["attempted"], r["failed"]
    if a.workload == "dashboard_gateway":
        n, bad = check.check_gateway(data, work)
        mismatched = len(bad)
        if bad:
            print(f"perfbench: {len(bad)}/{n} responses differ from DuckDB: "
                  f"{bad[:5]}", file=sys.stderr)
    else:
        df, dw, nf, nw = check.check_stream(work)
        mismatched = df + dw + (nw == 0)
        if mismatched:
            print(f"perfbench: stream sinks differ from DuckDB: filter "
                  f"{df}/{nf} rows, window {dw}/{nw} rows", file=sys.stderr)
    failed = min(attempted, failed + mismatched)
    t_check = time.time() - t_check

    lat = sorted(op["ms"] for op in r["ops"] if op["ok"])
    # wall-time figures follow host steal (README, "Why wall time is not
    # bounded"): printed on the env line and, traced, as per-layer figures
    wall = {
        "wall.throughput_ops_s": (attempted - failed) / r["wall_s"],
        "wall.latency_p50_ms": statistics.median(lat),
        "wall.latency_tail_ms": percentile(lat, tail_pct),
    }
    measured = {
        "setup_s": r["setup_done_ms"] / 1000.0 - t0,
        "cpu_ms_per_op": r["cpu_ms"] / attempted,
        "peak_rss_mb": r["peak_rss_mb"],
    }
    end_to_end = {k: (measured[k], u) for k, u in units["end_to_end"].items()}
    if a.trace:
        # a layer the workload never enters reads 0 (no work measured)
        layers = dict(r["trace"], **wall)
        metrics = {k: (layers.get(k, 0.0), u)
                   for k, u in units["per_layer"].items()}
        # the end-to-end figures of a traced run, for the tracing overhead
        with open(os.path.join(base, f"trace-{a.workload}.json"), "w") as f:
            json.dump({"end_to_end": end_to_end, "per_layer": metrics}, f,
                      indent=1)
    else:
        metrics = end_to_end
    dt = {k: ticks1[k] - ticks0[k] for k in ticks0}
    print("env " + json.dumps({
        "nproc": nproc, "steal_ticks": dt["steal"], "idle_ticks": dt["idle"],
        "total_ticks": dt["total"],
        "steal_pct": round(100.0 * dt["steal"] / max(1, dt["total"]), 2),
        "loadavg_start": load0, "loadavg_end": load1,
        "tail_percentile": tail_pct, "samples": len(lat),
        "wall": {k: round(v, 3) for k, v in wall.items()},
        "phases_s": {"generate": round(t_gen, 2),
                     "program": round(t_program, 2),
                     "check": round(t_check, 2)}}))
    if mismatched == 0 and failed == 0:
        shutil.rmtree(run, ignore_errors=True)
    else:
        print(f"perfbench: run directory kept for inspection: {run}",
              file=sys.stderr)
    print(json.dumps({
        "correct": mismatched == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
