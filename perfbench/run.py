#!/usr/bin/env python3
"""The repository's benchmark.  From the repo root:

    python3 perfbench/run.py --workload wire_mixed --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One workload per run: ``headline_sf0.1``, ``wire_mixed`` or
``log_spark`` (see README.md).  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it holds the run record (host, seed, commit), every
metric under its workload-specific name, and failed output checks.
``--workload all`` runs each workload untraced and then traced, and
prints every named metric and the tracing overhead.

All files a run writes go under ``.perfbench_out/`` in the repo root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.common import NPROC, OUT, ROOT, HostRecord  # noqa: E402

WORKLOADS = ("headline_sf0.1", "wire_mixed", "log_spark")
E2E_UNITS = {"setup_s": "s", "work_s": "s", "geomean_ms": "ms", "cpu_s": "s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "generator.cpu_s": "s",
    "engine.cpu_s": "s",
    "engine.busy_share": "ratio",
    "engine.ops": "count",
    "storage.files": "count",
}
WORKER_TIMEOUT_S = 165
# A fixed, pre-touched driver heap: the JVM's resident size then does
# not follow the collector's heap-sizing decisions, so peak_rss_mb
# moves with the program's own footprint (Python driver, off-heap).
DRIVER_HEAP = "2g"


def spark_env(tmp: str) -> dict:
    """The environment of a workload process: Spark at local[nproc],
    every temp and scratch file under ``tmp``."""
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        SPARK_GRAFT_CPUS=str(NPROC),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_HEAP,
        # every JVM, spark-submit's launcher included: no perf-data file
        # and no temp file outside the checkout
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options \"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch\" "
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} pyspark-shell"
        ),
    )
    return env


def run_workload(workload: str, seed: int, seconds: int, trace: bool, scale: str = "sf0.1") -> dict:
    """Run one workload in a fresh process group; every process it
    starts is stopped before this returns."""
    work = os.path.join(OUT, f"work-{os.getpid()}-{workload}-{int(trace)}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "spark-local"))
    os.makedirs(os.path.join(OUT, "last"), exist_ok=True)
    result_path = os.path.join(work, "result.json")
    rec = HostRecord(seed)
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.worker", workload, str(seed), str(seconds),
         "1" if trace else "0", scale, result_path],
        cwd=work,
        env=spark_env(tmp),
        stdin=subprocess.DEVNULL,
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        if code != 0:
            raise RuntimeError(f"{workload}: worker {'timed out' if code is None else f'exited {code}'}")
        with open(result_path) as f:
            res = json.load(f)
        if trace:
            dest = os.path.join(OUT, "last", f"{workload}.spans.jsonl")
            shutil.move(res["spans_file"], dest)
            res["spans_file"] = os.path.relpath(dest, ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["record"] = rec.finish(workload=workload, trace=trace, seconds=seconds, **res.get("record", {}))
    with open(os.path.join(OUT, "last", f"{workload}-{'traced' if trace else 'untraced'}.json"), "w") as f:
        json.dump(res, f)
    return res


def overhead(traced: dict, untraced: dict | None) -> dict:
    """Traced minus untraced, per named end-to-end metric."""
    if untraced is None:
        return {"unavailable": "no untraced run of this workload in .perfbench_out/last"}
    base = untraced["named"]
    return {
        k: v[0] - base[k][0]
        for k, v in traced["named"].items()
        if isinstance(v, list) and isinstance(base.get(k), list)
    }


def result_line(res: dict, trace: bool) -> dict:
    if trace:
        metrics = {k: {"value": res["generic_layers"][k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E_UNITS.items()}
    return {
        "correct": res["failed"] == 0 and not res["problems"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }


def _metrics(named: dict) -> dict:
    """``name: [value, unit]`` pairs as metric objects; a reading that
    was unavailable stays the string that says why."""
    return {k: ({"value": v[0], "unit": v[1]} if isinstance(v, list) else v) for k, v in named.items()}


def detail_line(res: dict) -> dict:
    d = {
        "record": res["record"],
        "error_rate": res["failed"] / res["attempted"],
        "named": _metrics(res["named"]),
        "problems": res["problems"][:20],
    }
    if "layers" in res:
        d["layers"] = _metrics(res["layers"])
        d["spans"] = res["spans"]
        d["spans_file"] = res["spans_file"]
        d["tracing_overhead"] = res["tracing_overhead"]
    return d


def _load_last(workload: str) -> dict | None:
    try:
        with open(os.path.join(OUT, "last", f"{workload}-untraced.json")) as f:
            return json.load(f)
    except OSError:
        return None


def run_all(seed: int, seconds: int) -> int:
    table = []
    all_ok = True
    attempted = failed = 0
    for w in WORKLOADS:
        plain = run_workload(w, seed, seconds, False)
        traced = run_workload(w, seed, seconds, True)
        traced["tracing_overhead"] = overhead(traced, plain)
        print(json.dumps({"workload": w, **detail_line(plain)}))
        print(json.dumps({"workload": w, **detail_line(traced)}))
        for name, v in plain["named"].items():
            table.append((w, name, *(v if isinstance(v, list) else (None, v))))
        all_ok &= result_line(plain, False)["correct"] and result_line(traced, True)["correct"]
        attempted += plain["attempted"]
        failed += plain["failed"]
    print(f"{'workload':16} {'metric':24} {'value':>12} unit")
    for w, name, value, unit in table:
        print(f"{w:16} {name:24} {value:12.4f} {unit}" if value is not None else f"{w:16} {name:24} {unit}")
    print(f"{'all':16} {'error_rate':24} {failed / attempted:12.4f} ratio")
    print(json.dumps({"correct": all_ok, "attempted": attempted, "failed": failed, "metrics": {
        f"{w}.{name}": {"value": value, "unit": unit} for w, name, value, unit in table if value is not None}}))
    return 0 if all_ok else 1


def main() -> int:
    # SIGTERM unwinds through the finally blocks, which stop the
    # workload's whole process group and wait for it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.1", help="headline data set under perfbench/data")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "flo_spark")):
        print("perfbench: no flo_spark package next to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    if args.trace:
        res["tracing_overhead"] = overhead(res, _load_last(args.workload))
    res["record"]["run_wall_s"] = time.perf_counter() - t0
    print(json.dumps(detail_line(res)))
    print(json.dumps(result_line(res, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
