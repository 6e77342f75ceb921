"""One workload run in a process of its own (started by ``run.py``):

    python3 -m perfbench.worker WORKLOAD SEED SECONDS TRACE SCALE RESULT_JSON

Writes the workload's result to RESULT_JSON.  Set-up time is counted
from the start of this process."""

from __future__ import annotations

import time

T_START = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

from perfbench.common import Tracer  # noqa: E402


@dataclass
class Ctx:
    seed: int
    seconds: int
    trace: bool
    scale: str
    work_dir: str
    tracer: Tracer
    t_start: float = T_START


def main(argv: list[str]) -> int:
    workload, seed, seconds, trace, scale, result_path = argv
    trace = trace == "1"
    ctx = Ctx(int(seed), int(seconds), trace, scale, os.getcwd(), Tracer(trace))
    if workload == "headline_sf0.1":
        from perfbench import headline as mod
    elif workload == "wire_mixed":
        from perfbench import wire_mixed as mod
    elif workload == "log_spark":
        from perfbench import log_spark as mod
    else:
        raise SystemExit(f"unknown workload {workload}")
    res = mod.run(ctx)
    if trace:
        spans_path = os.path.splitext(result_path)[0] + ".spans.jsonl"
        ctx.tracer.dump(spans_path)
        res["spans"] = ctx.tracer.summary()
        res["spans_file"] = spans_path
    with open(result_path, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
