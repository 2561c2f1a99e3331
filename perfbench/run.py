"""Runs one benchmark workload end to end and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace 0|1

Builds the engine and the benchmark's JVM side (build.py), generates the
catalog tables from the seed (datagen.py), runs one JVM (`perfbench.Main`)
that sets up, measures for the given seconds and writes a run record, then
checks catalog outputs against DuckDB (oracle.py). It prints a readable
report and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are BENCHMARK.json's `end_to_end` set; with
`--trace 1` its `per_layer` set. The full record, spans included, is kept
under `.bench_work/results/`.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import datagen  # noqa: E402

# Stream workloads drain `records` ids in micro-batches of `per_batch`
# records; catalog workloads run `queries` on tables generated at scale `sf`.
WORKLOADS = {
    "stream-ref": {"kind": "stream", "records": 2500, "per_batch": 500},
    "stream-bulk": {"kind": "stream", "records": 1_000_000, "per_batch": 250_000},
    "catalog-heavy": {"kind": "catalog", "sf": 0.002, "queries": [
        "p01_curation_pipeline", "m15_audio_neardup", "g01_triangle_count", "g12_ktruss"]},
}

# Per-layer metrics a workload kind cannot produce; reported as 0.
NOT_APPLICABLE = {"stream": ("operators.", "materialize."), "catalog": ("sources.", "streaming.")}
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData"] + [
    a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
DEADLINE_S = 170


def run_jvm(classpath, args, work, budget_s):
    """Runs perfbench.Main in its own process group. On timeout, or when
    this script is stopped, the group is killed and waited for."""
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath, "perfbench.Main"] + args
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, start_new_session=True)
        try:
            return proc.wait(timeout=budget_s)
        except BaseException as e:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise SystemExit(f"run: JVM exceeded {budget_s:.0f}s")
            raise


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    opt = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wl = WORKLOADS[opt.workload]
    classpath = build.build()
    started = time.monotonic()  # the run's deadline excludes a first build

    tag = f"{opt.workload}-seed{opt.seed}-trace{opt.trace}"
    work = ROOT / ".bench_work" / f"{tag}-{os.getpid()}"
    results = ROOT / ".bench_work" / "results"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results.mkdir(parents=True, exist_ok=True)
    try:
        cpus = len(os.sched_getaffinity(0))
        args = ["--kind", wl["kind"], "--workload", opt.workload, "--seed", str(opt.seed),
                "--seconds", str(opt.seconds), "--trace", str(opt.trace), "--cpus", str(cpus),
                "--work", str(work), "--out", str(work / "record.json")]
        if wl["kind"] == "stream":
            args += ["--records", str(wl["records"]), "--per-batch", str(wl["per_batch"])]
        else:
            datagen.write(str(work / "data"), opt.seed, wl["sf"])
            args += ["--data", str(work / "data"), "--queries", ",".join(wl["queries"])]
        code = run_jvm(classpath, args, work, DEADLINE_S - (time.monotonic() - started))
        if code != 0:
            sys.stderr.write((work / "jvm.log").read_text()[-3000:])
            raise SystemExit(f"run: JVM exited with {code}")
        record = json.loads((work / "record.json").read_text())
        if wl["kind"] == "catalog":
            import oracle  # DuckDB and pandas load only when needed
            checks = oracle.check(str(work / "data"), str(work / "outputs"), wl["queries"])
            record["checks"] += checks
            record["attempted"] += len(checks)
            record["failures"] += [{"op": "check", "name": c["name"], "class": "CorrectnessMismatch",
                                    "message": c["detail"]} for c in checks if not c["ok"]]
        (results / f"{tag}.json").write_text(json.dumps(record))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = record["attempted"], len(record["failures"])
    correct = failed == 0 and all(c["ok"] for c in record["checks"])
    if opt.trace:
        measured, names = record["layers"], spec["per_layer"]
        skip = NOT_APPLICABLE[wl["kind"]]
        missing = [m["name"] for m in names if m["name"] not in measured and not m["name"].startswith(skip)]
    else:
        measured, names = record["end_to_end"], spec["end_to_end"]
        missing = [m["name"] for m in names if m["name"] not in measured]
    if missing:
        raise SystemExit(f"run: metrics not produced: {missing}")
    metrics = {m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}
    bad = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        raise SystemExit(f"run: metrics not measured: {bad}")

    print(f"workload {opt.workload}  seed {opt.seed}  seconds {opt.seconds}  trace {opt.trace}  "
          f"cores {record['cores']}")
    for name, m in metrics.items():
        print(f"  {name:34s} {fmt(m['value']):>14s} {m['unit']}")
    for k, v in record["report"].items():
        print(f"  {'(' + k + ')':34s} {fmt(v):>14s}")
    print(f"  {'fail_frac':34s} {fmt(failed / attempted):>14s} ratio ({failed} of {attempted} operations)")
    for f in record["failures"]:
        print(f"  FAILED {f['op']} {f['name']}: {f['class']}: {f['message'][:300]}")
    for c in record["checks"]:
        if c.get("rows") is not None:
            print(f"  check {c['name']}: {'ok' if c['ok'] else 'FAIL'}, {c['rows']} output rows")
    n_checks = len(record["checks"])
    print(f"  correctness: {'PASS' if correct else 'FAIL'} "
          f"({sum(c['ok'] for c in record['checks'])} of {n_checks} checks)")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
