"""``wire_mixed``: ``FloTcpServer`` serving two producers, a tail and a
catch-up reader over four connections from one generator process.

A run is ``ROUNDS`` rounds of the same seeded work.  Each round starts
the server in its own process (``perfbench.wire_server``) over a fresh
native dir pre-populated with the seeded log.  Work is fixed by
``--seconds``: in each round each producer sends
``PRODUCE_PER_S * seconds / ROUNDS`` events (plus one end marker per
partition), so the log always ends at the same size, and the catch-up
reader makes ``READS_PER_S * seconds / ROUNDS`` reads, each at a fixed
point of the producers' progress.  A round's ``work_s`` is its wall
time until all of it is done and the tail has caught up, and its
``geomean_ms`` the geometric mean of its ack, tail-delivery and
catch-up p50.  The run reports the fastest round of each: load from
other tenants of the host only ever adds time, so the fastest of
several repetitions is the steadiest estimate (the reason ``timeit``
reports the minimum).
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import threading
import time

from perfbench import checks
from perfbench import wire_model as wm
from perfbench.common import NPROC, ROOT, cpu_seconds, geomean, median, tail_pct, vm_hwm_mb

PREPOP = 20_000
PRODUCE_PER_S = 300  # events per producer per --second of run length
CATCHUP_LIMIT = 100
READS_PER_S = 6  # catch-up reads per --second of run length
ROUNDS = 4  # each on a fresh server with the same inputs
END_NS = "/t0/refunds/end"  # matches the tail glob; ends the tail


def _start_server(root: str, seed: int, trace: bool, stats: str):
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.wire_server", root, str(seed), str(PREPOP), "1" if trace else "0", stats],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
        cwd=ROOT,
    )
    line = proc.stdout.readline()
    if not line.startswith("port "):
        proc.kill()
        proc.wait()
        raise RuntimeError(f"server did not start: {line!r}")
    return proc, int(line.split()[1]), time.perf_counter() - t0


def _stop_server(proc) -> None:
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _segment_stats(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _subs, names in os.walk(root):
        for n in names:
            if n.endswith(".events"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class _Run:
    """Generator state shared by the four connection threads."""

    def __init__(self, seed: int, seconds: int, start: dict[int, list[tuple]]):
        self.seed = seed
        self.per_producer = max(1, PRODUCE_PER_S * seconds // ROUNDS)
        self.bodies = wm.Bodies(seed)
        # model: partition -> [(namespace, crc)], index = counter - 1
        self.model = {p: list(v) for p, v in start.items()}
        self.start_heads = {p: len(v) for p, v in self.model.items()}
        self.acked: dict[int, list[int]] = {p: [] for p in wm.PARTITIONS}
        self.ack_ms: list[float] = []
        self.tail_ms: list[float] = []
        self.tail_events: list[tuple] = []
        self.catchup_ms: list[float] = []
        self.reads: list[dict] = []
        self.progress = threading.Condition()
        self.acked_total = 0
        self.acked_matching = 0
        self.backlog_max = 0
        self.n_reads = max(1, READS_PER_S * seconds // ROUNDS)
        self.errors: list[str] = []

    # each producer owns half the partitions, so a partition's model
    # list has a single writer
    def produce(self, client, k: int) -> None:
        rng = random.Random(self.seed * 7 + k)
        parts = wm.PARTITIONS[2 * k : 2 * k + 2]
        lat = []
        plan = [(parts[j % 2], wm.namespace(rng)) for j in range(self.per_producer)]
        plan += [(p, END_NS) for p in parts]
        for j, (part, ns) in enumerate(plan):
            data = self.bodies.make(k * 10_000_000 + j, time.perf_counter_ns())
            t0 = time.perf_counter()
            eid = client.produce(part, ns, data)
            lat.append((time.perf_counter() - t0) * 1e3)
            self.model[part].append((ns, wm.crc(data)))
            self.acked[part].append(eid.counter)
            with self.progress:
                self.acked_total += 1
                self.acked_matching += wm.glob_match(wm.TAIL_GLOB, ns)
                self.progress.notify_all()
        with self.progress:
            self.ack_ms.extend(lat)

    def tail(self, client) -> None:
        ends = 0
        delivered = 0
        vv = dict(self.start_heads)
        for ev in client.consume(wm.TAIL_GLOB, vv, await_new=True):
            now = time.perf_counter_ns()
            data = ev.data
            self.tail_ms.append((now - wm.stamp_of(data)) / 1e6)
            self.tail_events.append((ev.id.actor, ev.id.counter, ev.namespace, wm.crc(data)))
            delivered += 1
            with self.progress:
                self.backlog_max = max(self.backlog_max, self.acked_matching - delivered)
            if ev.namespace == END_NS:
                ends += 1
                if ends == len(wm.PARTITIONS):
                    break
        client.stop_consuming()

    def catchup(self, connect) -> None:
        """``n_reads`` reads, read i once the producers have acked i/n of
        their events: the reads meet the same log sizes on every run.

        Each read uses a connection of its own.  On a reused connection
        ``FloClient.consume`` fails with "expected CursorCreated" when
        the previous cursor ended at AwaitingEvents and the server sent
        live events before it saw the StopConsuming: the client does
        not skip that stale traffic (``_rpc`` does)."""
        rng = random.Random(self.seed * 7 + 99)
        total = 2 * self.per_producer
        for i in range(self.n_reads):
            with self.progress:
                if not self.progress.wait_for(lambda: self.acked_total >= i * total // self.n_reads, 60):
                    raise TimeoutError(f"producers stalled before read {i}")
            glob = wm.catchup_glob(rng, i)
            heads = {p: len(v) for p, v in self.model.items()}
            vv = {p: max(0, h - rng.randint(CATCHUP_LIMIT, 10 * CATCHUP_LIMIT)) for p, h in heads.items()}
            with connect() as client:
                t0 = time.perf_counter()
                got = list(client.consume(glob, vv, max_events=CATCHUP_LIMIT))
                self.catchup_ms.append((time.perf_counter() - t0) * 1e3)
            self.reads.append(
                {
                    "glob": glob,
                    "vv": vv,
                    "limit": CATCHUP_LIMIT,
                    "heads": heads,
                    "events": [(e.id.actor, e.id.counter, e.namespace, wm.crc(e.data)) for e in got],
                }
            )


def _guard(run: _Run, fn, *args):
    try:
        fn(*args)
    except Exception as err:  # a failed op: reported, never swallowed
        run.errors.append(f"{fn.__name__}: {type(err).__name__}: {err}")


def _instrument_client():
    """Traced runs: time ``wire.serialize`` and ``Framer.feed`` in the
    generator (the client calls both through the module)."""
    from flo_spark.protocol import wire

    acc = {"serialize": 0.0, "parse": 0.0}
    lock = threading.Lock()
    ser, feed = wire.serialize, wire.Framer.feed

    def timed_serialize(msg):
        t0 = time.perf_counter()
        out = ser(msg)
        dt = time.perf_counter() - t0
        with lock:
            acc["serialize"] += dt
        return out

    def timed_feed(self, data):
        t0 = time.perf_counter()
        out = feed(self, data)
        dt = time.perf_counter() - t0
        with lock:
            acc["parse"] += dt
        return out

    wire.serialize = timed_serialize
    wire.Framer.feed = timed_feed
    return acc


def _prepopulated_model(seed: int) -> dict[int, list[tuple]]:
    model: dict[int, list[tuple]] = {p: [] for p in wm.PARTITIONS}
    for part, ns, data in wm.prepopulated(seed, PREPOP):
        model[part].append((ns, wm.crc(data)))
    return model


def _round(ctx, i: int, start: dict[int, list[tuple]]) -> dict:
    """One round: a fresh server over a freshly pre-populated dir, the
    fixed mix, the output checks and the server's counters.  Every
    round of a run gets the same inputs."""
    from flo_spark.protocol.client import FloClient

    root = os.path.join(ctx.work_dir, f"native{i}")
    stats_path = os.path.join(ctx.work_dir, f"server_stats{i}.json")
    with ctx.tracer.span("setup.server"):
        proc, port, setup = _start_server(root, ctx.seed, ctx.trace, stats_path)
    try:
        r = _Run(ctx.seed, ctx.seconds, start)

        def connect():
            return FloClient("127.0.0.1", port, client_name="perfbench", timeout=60)

        clients = [connect() for _ in range(3)]
        spid = proc.pid
        s_cpu0, g_cpu0 = cpu_seconds(spid), cpu_seconds()
        t0 = time.perf_counter()
        threads = [
            threading.Thread(target=_guard, args=(r, r.tail, clients[2])),
            threading.Thread(target=_guard, args=(r, r.catchup, connect)),
        ]
        producers = [threading.Thread(target=_guard, args=(r, r.produce, clients[k], k)) for k in (0, 1)]
        with ctx.tracer.span("round", op=f"round/{i}"):
            for t in threads + producers:
                t.start()
            for t in producers:
                t.join()
            produce_wall = time.perf_counter() - t0
            for t in threads:
                t.join(timeout=120)
        wall = time.perf_counter() - t0
        s_cpu, g_cpu = cpu_seconds(spid) - s_cpu0, cpu_seconds() - g_cpu0
        peak = vm_hwm_mb(spid)
        for c in clients:
            c.close()
    finally:
        _stop_server(proc)
    seg_files, seg_bytes = _segment_stats(root)

    problems = list(r.errors)
    if any(t.is_alive() for t in threads):
        problems.append("tail or catch-up reader still running 120 s after the producers")
    id_problems = checks.ids_contiguous(r.acked, r.start_heads)
    tail_problems = checks.tail_exactly_once(r.tail_events, r.model, r.start_heads, wm.TAIL_GLOB)
    problems += id_problems + tail_problems
    bad_reads = 0
    for rd in r.reads:
        p = checks.catchup_matches(rd, r.model)
        if p:
            bad_reads += 1
            problems += p[:2]
    n_acks = len(r.ack_ms)
    n_sent = 2 * (r.per_producer + len(wm.PARTITIONS) // 2)
    # ops: every produce, every catch-up read, and the tail as one op
    attempted = n_sent + r.n_reads + 1
    failed = (n_sent - n_acks) + (r.n_reads - len(r.reads)) + bad_reads
    failed += bool(tail_problems) + bool(id_problems)
    out = {
        "setup": setup,
        "wall": wall,
        "acks_per_s": n_acks / produce_wall,
        "ack_ms": r.ack_ms,
        "tail_ms": r.tail_ms,
        "catchup_ms": r.catchup_ms,
        "s_cpu": s_cpu,
        "g_cpu": g_cpu,
        "peak": peak,
        "seg_files": seg_files,
        "seg_bytes": seg_bytes,
        "user_bytes": sum(len(ns) + wm.BODY_BYTES for evs in r.model.values() for ns, _crc in evs),
        "log_events_end": sum(len(v) for v in r.model.values()),
        "backlog_max": r.backlog_max,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
    }
    if ctx.trace:
        with open(stats_path) as f:
            out["server"] = json.load(f)
    return out


def run(ctx) -> dict:
    wire_acc = _instrument_client() if ctx.trace else None
    start = _prepopulated_model(ctx.seed)
    rounds = [_round(ctx, i, start) for i in range(ROUNDS)]

    def med(key: str) -> float:
        return median([rd[key] for rd in rounds])

    def pooled(key: str) -> list[float]:
        return [x for rd in rounds for x in rd[key]]

    def p50(key: str) -> float:
        """The key's p50 in each round, median over the rounds."""
        return median([median(rd[key]) for rd in rounds])

    for rd in rounds:
        rd["cpu"] = rd["s_cpu"] + rd["g_cpu"]
        rd["geomean_ms"] = geomean([median(rd["ack_ms"]), median(rd["tail_ms"]), median(rd["catchup_ms"])])
    problems = [p for rd in rounds for p in rd["problems"]]
    peak = max(rd["peak"] for rd in rounds)
    named = {
        "setup_s": (med("setup"), "s"),
        "produce_ack_p50_ms": (p50("ack_ms"), "ms"),
        "produce_ack_p99_ms": tail_pct(pooled("ack_ms"), 99, "ms"),
        "produce_events_per_s": (med("acks_per_s"), "ev/s"),
        "tail_delivery_p50_ms": (p50("tail_ms"), "ms"),
        "tail_delivery_p99_ms": tail_pct(pooled("tail_ms"), 99, "ms"),
        "catchup_p50_ms": (p50("catchup_ms"), "ms"),
        "catchup_p90_ms": tail_pct(pooled("catchup_ms"), 90, "ms"),
        "cpu_s": (med("cpu"), "s"),
        "peak_rss_mb": (peak, "MB"),
    }
    out = {
        "attempted": sum(rd["attempted"] for rd in rounds),
        "failed": sum(rd["failed"] for rd in rounds),
        "problems": problems,
        "e2e": {
            "setup_s": med("setup"),
            "work_s": min(rd["wall"] for rd in rounds),
            "geomean_ms": min(rd["geomean_ms"] for rd in rounds),
            "cpu_s": med("cpu"),
            "peak_rss_mb": peak,
        },
        "named": named,
        "record": {
            "rounds": ROUNDS,
            "samples": {k: len(pooled(k)) for k in ("ack_ms", "tail_ms", "catchup_ms")},
            "log_events_end": rounds[0]["log_events_end"],
            "round_wall_s": [rd["wall"] for rd in rounds],
        },
    }
    if ctx.trace:
        sv = {k: sum(rd["server"][k] for rd in rounds) for k in rounds[0]["server"] if k != "produce_busy_ms_p50"}
        s_cpu = sum(rd["s_cpu"] for rd in rounds)
        g_cpu = sum(rd["g_cpu"] for rd in rounds)
        wall = sum(rd["wall"] for rd in rounds)
        seg_files = median([rd["seg_files"] for rd in rounds])
        layers = {
            "wire.serialize_ms": (wire_acc["serialize"] * 1e3, "ms"),
            "wire.parse_ms": (wire_acc["parse"] * 1e3, "ms"),
            "generator.cpu_s": (g_cpu, "s"),
            "server.produce.calls": (sv["produce_calls"], "count"),
            "server.produce.busy_s": (sv["produce_busy_s"], "s"),
            "server.produce.busy_ms_p50": (median([rd["server"]["produce_busy_ms_p50"] for rd in rounds]), "ms"),
            "server.segments": (seg_files, "count"),
            "server.events_after.calls": (sv["events_after_calls"], "count"),
            "server.events_after.busy_s": (sv["events_after_busy_s"], "s"),
            "server.events_after.decoded": (sv["events_after_decoded"], "count"),
            "server.events_after.returned": (sv["events_after_returned"], "count"),
            "server.events_after.useful_ratio": (
                (sv["events_after_returned"] / sv["events_after_decoded"], "ratio")
                if sv["events_after_decoded"]
                else "unavailable: no events decoded"
            ),
            "server.cpu_s": (s_cpu, "s"),
            "server.cpu_share": (s_cpu / wall, "ratio"),
            "tail.backlog_max": (max(rd["backlog_max"] for rd in rounds), "count"),
            "store.bytes_per_user_byte": (
                sum(rd["seg_bytes"] for rd in rounds) / sum(rd["user_bytes"] for rd in rounds),
                "ratio",
            ),
        }
        out["layers"] = layers
        out["generic_layers"] = {
            "generator.cpu_s": g_cpu,
            "engine.cpu_s": s_cpu,
            "engine.busy_share": s_cpu / (wall * NPROC),
            "engine.ops": sv["produce_calls"] + sv["events_after_calls"],
            "storage.files": seg_files,
        }
    return out
