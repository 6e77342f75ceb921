"""The benchmark's own tests.  From the repo root:

    python3 -m pytest perfbench/tests -q

Tiny runs of each workload must print every metric with its unit, and
each output check must catch a fault planted in a copy of an output
(never in program code)."""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import checks  # noqa: E402
from perfbench import wire_model as wm  # noqa: E402
from perfbench.common import DATA, OUT, fingerprint, frame_fingerprint  # noqa: E402
from perfbench.headline import HEADLINE, TABLES, output_problem  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

NAMED = {
    "headline_sf0.1": {
        "setup_s", "headline_total_s", "headline_geomean_s", "headline_best_total_s",
        "headline_best_geomean_s", "cpu_s", "peak_rss_mb",
    },
    "wire_mixed": {
        "setup_s", "produce_ack_p50_ms", "produce_ack_p99_ms", "produce_events_per_s",
        "tail_delivery_p50_ms", "tail_delivery_p99_ms", "catchup_p50_ms", "catchup_p90_ms",
        "cpu_s", "peak_rss_mb",
    },
    "log_spark": {
        "setup_s", "log_produce_p50_ms", "log_events_per_s", "log_consume_p50_ms",
        "log_consume_p90_ms", "cpu_s", "peak_rss_mb",
    },
}


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


def _metric_ok(v) -> bool:
    if isinstance(v, str):
        return v.startswith("unavailable")
    return isinstance(v["value"], (int, float)) and bool(v["unit"])


# -- tiny runs ----------------------------------------------------------
@pytest.mark.parametrize(
    "workload,extra",
    [("wire_mixed", []), ("log_spark", []), ("headline_sf0.1", ["--scale", "sf0.001"])],
)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run_prints_every_metric(workload, extra, trace):
    p = _run("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace, *extra)
    assert p.returncode == 0, p.stderr[-3000:]
    detail, last = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1, detail["problems"]
    spec = SPEC["per_layer" if trace == "1" else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {k: v["unit"] for k, v in last["metrics"].items()}
    assert all(isinstance(v["value"], (int, float)) for v in last["metrics"].values())
    assert set(detail["named"]) == NAMED[workload]
    assert all(_metric_ok(v) for v in detail["named"].values())
    for key in ("nproc", "load_avg_1m", "steal_share", "seed", "git_commit"):
        assert key in detail["record"]
    if trace == "1":
        assert detail["layers"] and all(_metric_ok(v) for v in detail["layers"].values())
        assert detail["tracing_overhead"]


def test_refuses_to_run_without_the_program():
    bare = os.path.join(OUT, "test-bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        p = _run("--workload", "wire_mixed", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=bare)
        assert p.returncode != 0
        assert p.stdout.strip() == ""
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def test_headline_matches_bench_py():
    import bench

    assert HEADLINE == bench.HEADLINE


# -- planted faults: headline -------------------------------------------
def _oracle_frame(name: str):
    import duckdb

    from flo_spark.queries import oracle_sql

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(DATA, 'sf0.001', t)}.parquet'")
    pdf = con.execute(oracle_sql()[name]).df()
    con.close()
    return pdf


def test_headline_check_catches_a_wrong_row_count():
    with open(os.path.join(BENCH, "fingerprints.json")) as f:
        expected = json.load(f)["sf0.001"]
    pdf = _oracle_frame("q3_shipping_priority")
    assert output_problem("q3_shipping_priority", *frame_fingerprint(pdf), expected) is None
    short = pdf.iloc[1:]
    assert "rows" in output_problem("q3_shipping_priority", *frame_fingerprint(short), expected)
    changed = pdf.copy()
    col = changed.columns[0]
    changed.loc[changed.index[0], col] = changed[col].iloc[1]
    assert output_problem("q3_shipping_priority", *frame_fingerprint(changed), expected)


def test_fingerprint_ignores_row_order():
    rows = [(1, "a"), (2, "b")]
    assert fingerprint(["x", "y"], rows) == fingerprint(["x", "y"], rows[::-1])


# -- planted faults: wire_mixed -----------------------------------------
def _wire_model(n: int = 400):
    model = {p: [] for p in wm.PARTITIONS}
    for part, ns, data in wm.prepopulated(5, n):
        model[part].append((ns, wm.crc(data)))
    return model


def _tail_of(model, vv, glob):
    out = [
        (p, c, ns, crc)
        for p, evs in model.items()
        for c, (ns, crc) in enumerate(evs, 1)
        if c > vv[p] and wm.glob_match(glob, ns)
    ]
    return sorted(out, key=lambda e: (e[1], e[0]))


def test_tail_check_catches_a_dropped_event():
    model = _wire_model()
    vv = {p: 20 for p in wm.PARTITIONS}
    tail = _tail_of(model, vv, wm.TAIL_GLOB)
    assert checks.tail_exactly_once(tail, model, vv, wm.TAIL_GLOB) == []
    dropped = tail[:3] + tail[4:]
    assert checks.tail_exactly_once(dropped, model, vv, wm.TAIL_GLOB)
    doubled = tail + tail[-1:]
    assert checks.tail_exactly_once(doubled, model, vv, wm.TAIL_GLOB)


def test_ack_check_catches_a_duplicated_id():
    acked = {1: [11, 12, 13], 2: [11, 12]}
    start = {1: 10, 2: 10}
    assert checks.ids_contiguous(acked, start) == []
    assert checks.ids_contiguous({1: [11, 12, 12], 2: [11, 12]}, start)
    assert checks.ids_contiguous({1: [11, 13], 2: [11, 12]}, start)


def test_catchup_check_catches_a_missing_or_foreign_event():
    model = _wire_model()
    heads = {p: len(v) for p, v in model.items()}
    vv = {p: 30 for p in wm.PARTITIONS}
    for glob in ("/**/*", "/t1/**/*", "/*/orders/*"):
        events = _tail_of(model, vv, glob)[:50]
        read = {"glob": glob, "vv": vv, "limit": 50, "heads": heads, "events": events}
        assert checks.catchup_matches(read, model) == [], glob
        assert checks.catchup_matches({**read, "events": events[:10] + events[11:]}, model)
        ns, _ = model[1][0]
        foreign = [(1, 1, ns, model[1][0][1])] + events[1:]
        assert checks.catchup_matches({**read, "events": foreign}, model)


def test_glob_model():
    assert wm.glob_match("/*/orders/*", "/t3/orders/created")
    assert not wm.glob_match("/*/orders/*", "/t3/orders")
    assert wm.glob_match("/t3/**/*", "/t3/orders/created")
    assert not wm.glob_match("/t3/**/*", "/t31/orders/created")
    assert wm.glob_match("/**/*", "/a")
    shares = [wm.glob_match(wm.TAIL_GLOB, wm.namespace(random.Random(i))) for i in range(4000)]
    assert 0.07 < sum(shares) / len(shares) < 0.13


# -- planted faults: log_spark ------------------------------------------
def test_range_check_catches_an_overlap_or_gap():
    acks = [{1: (1, 3), 2: (4, 5)}, {1: (6, 6), 2: (7, 9)}]
    counts = [{1: 3, 2: 2}, {1: 1, 2: 3}]
    assert checks.ranges_contiguous(acks, counts) == []
    assert checks.ranges_contiguous([acks[0], {1: (5, 5), 2: (7, 9)}], counts)
    assert checks.ranges_contiguous([acks[0], {1: (7, 7), 2: (8, 10)}], counts)


def test_consume_check_catches_a_wrong_row_count():
    events = [(1 + i % 4, i + 1, f"/t{i % 3}/orders/created", i) for i in range(100)]
    vv = {p: 10 for p in wm.PARTITIONS}
    want = [e for e in events if e[1] > 10][:20]
    assert checks.consume_equals(want, events, "/**/*", vv, 20) == []
    assert checks.consume_equals(want[:-1], events, "/**/*", vv, 20)
    assert checks.consume_equals(want[:5] + want[6:] + want[5:6], events, "/**/*", vv, 20)
