#!/usr/bin/env python3
"""Pipeline benchmark of graft: the WeatherDB update cycle, the
last-import merge, single-station reads and the corpus clean.

    python3 perfbench/run.py --workload weatherdb_cycle --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), generates the
seeded inputs (perfbench/gen.py), runs the workload in one JVM
(perfbench/scala), checks the outputs (perfbench/oracle.py and the
harness's own checks), and prints as its last line one JSON object:
`correct`, `attempted`, `failed` and `metrics` -- the end-to-end
metrics of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`.  Lines before it name every metric of the run with its
unit.  See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT

# inputs: which generated set; tables: where the oracle finds its tables;
# min_ops: timed operations per run at the least, enough that they last
# longer than --seconds on any speed this machine shows, so every run
# times the same operations of the JVM's warm-up
WORKLOADS = {
    "weatherdb_cycle": dict(inputs="events", tables="base", min_ops=2),
    "corpus_clean": dict(inputs="documents", tables=".", min_ops=4),
}
TRACE_OPS = 1  # traced operations per traced run, each after an untraced one
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xss16m", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    a for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action", "java.base/sun.util.calendar"]
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
# the harness JVM's deadline, counted from after the build; the DuckDB
# check after it takes a few seconds, and a run must end within 180 s
DEADLINE_S = 165


def pct(xs, q):
    """The q-quantile of xs, linearly interpolated."""
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = int(k)
    return s[lo] + (s[min(lo + 1, len(s) - 1)] - s[lo]) * (k - lo)


def run_jvm(cp, args, work, timeout):
    log = open(work / "jvm.log", "w")
    env = dict(os.environ, SPARK_LOCAL_IP=os.environ.get("SPARK_LOCAL_IP", "127.0.0.1"))
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, build.MAIN, *args]
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    finally:  # also on SIGTERM: never leave the JVM behind
        if p.poll() is None:
            p.kill()
            p.wait()
        log.close()
    return p.returncode


def info(name, value, unit, note=""):
    print(f"metric {name} = {value:.6g} {unit}{'  (' + note + ')' if note else ''}")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="graft pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(gen.EVENT_SIZES), default="bench")
    ap.add_argument("--fault", choices=["drop-row"],
                    help="drop one row of every checked output, to test the gate")
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    try:
        cp = build.ensure()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    t_start = time.time()

    inputs, manifest = gen.ensure(OUT / "inputs", wl["inputs"], a.size, a.seed)
    for t, c in sorted(manifest["checksums"].items()):
        print(f"input {t} checksum {c}")

    work = OUT / "runs" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "oracle").mkdir()
    lo = manifest.get("import_lo", "2024-01-01")
    hi = manifest.get("import_hi", "2024-01-01")
    args = ["--workload", a.workload, "--inputs", str(inputs), "--work", str(work),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed),
            "--lo", lo, "--hi", hi,
            "--min-ops", str(wl["min_ops"]),
            "--trace-ops", str(TRACE_OPS)]
    if a.fault:
        args += ["--fault", a.fault]
    rc = run_jvm(cp, args, work, DEADLINE_S - (time.time() - t_start))
    result_file = work / "result.json"
    if rc != 0 or not result_file.is_file():
        sys.exit(f"the harness JVM failed (exit {rc}); see {work / 'jvm.log'}")
    r = json.loads(result_file.read_text())

    checked, gate_errors = oracle.check(work / "oracle", inputs / wl["tables"])
    errors = r["errors"] + gate_errors
    attempted = r["attempted"] + checked
    failed = r["failed"] + len(gate_errors)
    for e in errors:
        print(f"error {e}")

    # a run that aborted early lacks its timings; it still reports, as failed
    lat = r.get("latency_s", [])
    phases = r["phases"] or {}
    setup_s = r.get("setup_s", 0.0)
    info("setup_s", setup_s, "s", f"session {r.get('session_s', 0.0):.2f} s + base state "
         "and one warm-up operation")
    n = f"n={len(lat)}"
    if lat:
        info("op_p50_ms", statistics.median(lat) * 1e3, "ms", n)
    for name, xs in phases.items():
        if name == "read_ms":
            info("read_p50_ms", statistics.median(xs), "ms", f"traced, n={len(xs)}")
            info("read_p90_ms", pct(xs, 0.9), "ms", f"traced, n={len(xs)}")
        else:
            info(name, statistics.median(xs), "s", f"median, n={len(xs)}")
    if a.workload == "corpus_clean" and lat:
        info("corpus_s", statistics.median(lat), "s", f"median, {n}")
    cache = r.get("cache_mb", [])
    info("cache_mb", statistics.median(cache) if cache else 0.0, "MB", "median over operations")
    info("error_rate", failed / max(attempted, 1), "ratio", f"{failed} of {attempted}")

    if a.trace:
        layers = r.get("layers") or {}
        for s in r.get("survivors", []):
            print(f"survivor {s}")
        print(f"spans {work / 'spans.jsonl'}")
        metrics = {m["name"]: {"value": float(layers.get(m["name"]) or 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = {"setup_s": setup_s,
                  "op_p50_ms": statistics.median(lat) * 1e3 if lat else 0.0}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0 and not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
