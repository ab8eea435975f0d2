#!/usr/bin/env python3
"""Benchmark command: one workload, one JVM at local[4], one JSON line.

    python3 perfbench/run.py --workload mc_grid|release_catalog --seed N \
        --seconds S --trace 0|1

Builds the program from source when needed (build.py), gives the run a
fresh state directory under .bench_build/ (index root, java.io.tmpdir,
Spark local dirs, grid checkpoints, release roots) and removes it at the
end, starts the JVM side (src/graft/perfbench/Bench.scala), checks its
outputs (checks.py) and prints, as the last line of standard output,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer ones with --trace 1. A layer that the
workload bypasses reads 0 on it.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("mc_grid", "release_catalog")
RUN_LIMIT_S = 170  # the whole run, build excluded
HEAP = "2g"  # fixed, so peak RSS does not follow the collector's resizing
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def declared_metrics() -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {"end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]}}


def run_jvm(args, state: Path, deadline: float) -> dict:
    sys.path.insert(0, str(BENCH))
    import build
    classes, jars = build.build()
    start = time.monotonic()
    for d in ("tmp", "indexes", "spark-local", "out"):
        (state / d).mkdir()
    env = dict(os.environ, GRAFT_INDEX_DIR=str(state / "indexes"),
               SPARK_LOCAL_DIRS=str(state / "spark-local"), TMPDIR=str(state / "tmp"))
    out = state / "result.json"
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={state / 'tmp'}", f"-Dderby.system.home={state}",
              f"-Dlog4j2.configurationFile={BENCH / 'src' / 'log4j2.properties'}",
              "-cp", f"{classes}:{jars}/*", "graft.perfbench.Bench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--state", str(state), "--data", str(BENCH / "data"), "--out", str(out)])
    log = open(state / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=state, env=env, stdout=log, stderr=subprocess.STDOUT)
    try:
        code = proc.wait(timeout=max(1.0, deadline - (time.monotonic() - start)))
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:  # also on SIGTERM: never leave the JVM running
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    progress = [l for l in (state / "jvm.log").read_text(errors="replace").splitlines()
                if l.startswith("[perfbench]")]
    print("\n".join(progress), file=sys.stderr)
    if code != 0 or not out.exists():
        tail = (state / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"the {args.workload} JVM ended with {code}", 3)
    return json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}; "
             "run from a full checkout of the repository")
    declared = declared_metrics()

    runs = ROOT / ".bench_build" / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    state = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs))
    try:
        res = run_jvm(args, state, RUN_LIMIT_S)
        import checks
        if args.workload == "mc_grid":
            wrong, problems = checks.check_mc(res)
        else:
            wrong, problems = checks.check_release(res)
            for name, err in res["errors"].items():
                print(f"perfbench: {name} failed: {err}", file=sys.stderr)
    finally:
        shutil.rmtree(state, ignore_errors=True)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)

    kind = "per_layer" if args.trace else "end_to_end"
    measured = res[kind]
    metrics = {}
    for name, unit in declared[kind].items():
        got = measured.get(name, {"value": 0.0, "unit": unit})
        if got["unit"] != unit:
            fail(f"{name} measured in {got['unit']}, declared in {unit}")
        metrics[name] = {"value": got["value"], "unit": unit}
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"] + wrong * res["rounds"], "metrics": metrics}))
    sys.stdout.flush()
    # skip interpreter teardown: duckdb (imported by tools/check_oracle.py)
    # can abort the process while its threads are torn down
    os._exit(0)


if __name__ == "__main__":
    main()
