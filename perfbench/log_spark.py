"""``log_spark``: the Spark engine's form of the flo log.

A fresh ``EventStream`` with 4 partitions and small segments, so every
batch adds files.  One caller loops: one ``produce`` of a seeded batch
of ``BATCH`` events (explicit partition, ``order_by`` on a sequence
column, so the assigned ids are reproducible), then three
``consume(namespace, version_vector, limit)`` reads with the
``wire_mixed`` glob mix from cursors at seeded depths behind the head.
The loop runs ``ITERS_PER_S * seconds`` times; the log grows during the
run.  ``work_s`` is the fastest iteration's wall time and
``geomean_ms`` the geometric mean of the fastest produce and the
fastest consume: load from other tenants of the host only ever adds
time, so the fastest of several repetitions is the steadiest estimate
(the reason ``timeit`` reports the minimum).  The first iterations
still run slower while the JIT warms up.  Every ack and every read is
checked against the generator's model.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import checks
from perfbench import wire_model as wm
from perfbench.common import NPROC, cpu_seconds, tree_cpu_seconds, geomean, median, tail_pct, vm_hwm_mb

BATCH = 1000
SEGMENT_MAX_RECORDS = 100
PREPOP_BATCHES = 1
ITERS_PER_S = 0.2
READS_PER_ITER = 3
CONSUME_LIMIT = 200


def _batch(spark, rng: random.Random, bodies: wm.Bodies, base_seq: int):
    rows = []
    for i in range(BATCH):
        seq = base_seq + i
        rows.append((wm.namespace(rng), bodies.make(seq, 0), rng.choice(wm.PARTITIONS), seq))
    df = spark.createDataFrame(rows, "namespace string, data binary, partition int, seq long")
    return df, rows


def _instrument(stream, tracer) -> None:
    """Traced runs: spans around the calls ``EventStream.produce`` makes
    (checkpoint, head, id assignment, append), and a count of the
    parquet footers ``head`` reads."""
    import pyarrow.parquet as pq
    from pyspark.sql.classic.dataframe import DataFrame

    from flo_spark.sources import event_table

    stream.head = tracer.wrap("event_table.head", stream.head)
    stream.append_verbatim = tracer.wrap("event_table.append", stream.append_verbatim)
    event_table.assign_event_ids = tracer.wrap("operators.produce.assign", event_table.assign_event_ids)
    DataFrame.localCheckpoint = tracer.wrap("event_table.checkpoint", DataFrame.localCheckpoint)
    pq.read_metadata = tracer.wrap("event_table.footer_read", pq.read_metadata)


def _log_files(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _subs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def run(ctx) -> dict:
    from flo_spark.session import get_spark
    from flo_spark.sources.event_table import EventStream

    from perfbench import spark_readers as sr

    tracer = ctx.tracer
    rng = random.Random(ctx.seed)
    bodies = wm.Bodies(ctx.seed)
    with tracer.span("setup.session"):
        spark = get_spark("perfbench_log")
        sc = spark.sparkContext
        jpid = sr.jvm_pid(spark)
    path = os.path.join(ctx.work_dir, "log")
    stream = EventStream.create(spark, path, num_partitions=4, segment_max_records=SEGMENT_MAX_RECORDS)

    events: list[tuple] = []  # model, (actor, counter, namespace, crc) in id order
    acks: list[dict] = []
    counts: list[dict] = []
    problems: list[str] = []
    seq = 0

    def produce(timed: list | None, op: str):
        nonlocal seq
        df, rows = _batch(spark, rng, bodies, seq)
        seq += BATCH
        t0 = time.perf_counter()
        with tracer.span("event_table.produce", op=op):
            ack = stream.produce(df, order_by="seq")
        if timed is not None:
            timed.append((time.perf_counter() - t0) * 1e3)
        ranges = {int(p): (int(lo), int(hi)) for p, (lo, hi) in ack.ranges.items()}
        per_part: dict[int, list] = {}
        for ns, data, part, s in rows:
            per_part.setdefault(part, []).append((s, ns, wm.crc(data)))
        acks.append(ranges)
        counts.append({p: len(v) for p, v in per_part.items()})
        batch_events = []
        for part, evs in per_part.items():
            lo = ranges.get(part, (0, 0))[0]
            for k, (_s, ns, c) in enumerate(sorted(evs)):
                batch_events.append((part, lo + k, ns, c))
        batch_events.sort(key=lambda e: (e[1], e[0]))
        events.extend(batch_events)

    with tracer.span("setup.prepopulate"):
        for b in range(PREPOP_BATCHES):
            produce(None, f"prepop/{b}")
    if ctx.trace:
        _instrument(stream, tracer)
    setup_s = time.perf_counter() - ctx.t_start

    iters = max(2, round(ITERS_PER_S * ctx.seconds))
    produce_ms: list[float] = []
    build_ms: list[float] = []
    consume_ms: list[float] = []
    reads = bad_reads = rows_returned = 0
    consumed: list[tuple] = []  # (rows, glob, vv, model length) per read
    produce_stats, consume_stats = sr.GroupStats(), sr.GroupStats()
    c0, j0 = cpu_seconds(), tree_cpu_seconds(jpid)
    t_loop = time.perf_counter()
    iter_s: list[float] = []
    for it in range(iters):
        t_it = time.perf_counter()
        op = f"produce/{it}"
        if ctx.trace:
            sc.setJobGroup(op, op)
        produce(produce_ms, op)
        if ctx.trace:
            produce_stats.add(sr.read_group(spark, op))
        head = events[-1][1]
        for r in range(READS_PER_ITER):
            glob = wm.catchup_glob(rng, reads)
            depth = rng.randint(CONSUME_LIMIT, 3 * BATCH)
            vv = {p: max(0, head - depth) for p in wm.PARTITIONS}
            op = f"consume/{it}/{r}"
            if ctx.trace:
                sc.setJobGroup(op, op)
            with tracer.span("consume", op=op):
                t0 = time.perf_counter()
                with tracer.span("consume.build"):
                    df = stream.consume(glob, vv, CONSUME_LIMIT)
                t1 = time.perf_counter()
                with tracer.span("consume.exec"):
                    got = df.collect()
                t2 = time.perf_counter()
            build_ms.append((t1 - t0) * 1e3)
            consume_ms.append((t2 - t0) * 1e3)
            reads += 1
            if ctx.trace:
                consume_stats.add(sr.read_group(spark, op))
            consumed.append((got, glob, vv, len(events)))
        iter_s.append(time.perf_counter() - t_it)
    wall = time.perf_counter() - t_loop
    gen_cpu, jvm_cpu = cpu_seconds() - c0, tree_cpu_seconds(jpid) - j0
    if ctx.trace:
        sc.setLocalProperty("spark.jobGroup.id", None)
    peak = vm_hwm_mb() + vm_hwm_mb(jpid)

    # every read against the model as it stood when the read ran
    for got, glob, vv, n_model in consumed:
        rows_returned += len(got)
        got = [(r["actor"], r["event_counter"], r["namespace"], wm.crc(bytes(r["data"]))) for r in got]
        p = checks.consume_equals(got, events[:n_model], glob, vv, CONSUME_LIMIT)
        bad_reads += bool(p)
        problems += p

    range_problems = checks.ranges_contiguous(acks, counts)
    problems += range_problems
    attempted = iters + PREPOP_BATCHES + reads
    failed = bad_reads + (1 if range_problems else 0)
    files, size = _log_files(path)
    n_events = len(events)
    user_bytes = sum(len(e[2]) + wm.BODY_BYTES for e in events)

    p50, c50 = median(produce_ms), median(consume_ms)
    named = {
        "setup_s": (setup_s, "s"),
        "log_produce_p50_ms": (p50, "ms"),
        "log_events_per_s": (iters * BATCH / wall, "ev/s"),
        "log_consume_p50_ms": (c50, "ms"),
        "log_consume_p90_ms": tail_pct(consume_ms, 90, "ms"),
        "cpu_s": (gen_cpu + jvm_cpu, "s"),
        "peak_rss_mb": (peak, "MB"),
    }
    out = {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "e2e": {
            "setup_s": setup_s,
            "work_s": min(iter_s),
            "geomean_ms": geomean([min(produce_ms), min(consume_ms)]),
            "cpu_s": gen_cpu + jvm_cpu,
            "peak_rss_mb": peak,
        },
        "named": named,
        "record": {
            "spark_default_parallelism": sc.defaultParallelism,
            "samples": {"produce": len(produce_ms), "consume": len(consume_ms)},
            "log_events_end": n_events,
            "iteration_s": iter_s,
        },
    }
    if ctx.trace:
        spans = tracer.summary()

        def span_ms(name: str):
            s = spans.get(name)
            return (s["total_ms"] / iters, "ms") if s else f"unavailable: no {name} span"

        footers = spans.get("event_table.footer_read", {}).get("calls", 0)
        out["layers"] = {
            "event_table.checkpoint_ms": span_ms("event_table.checkpoint"),
            "event_table.head_ms": span_ms("event_table.head"),
            "event_table.head_footers_read": (footers / iters, "count"),
            "operators.produce.assign_ms": span_ms("operators.produce.assign"),
            "event_table.append_ms": span_ms("event_table.append"),
            "spark.jobs_per_produce": (produce_stats.jobs / iters, "count"),
            "spark.tasks_per_produce": (produce_stats.tasks / iters, "count"),
            "consume.build_ms": (median(build_ms), "ms"),
            "consume.exec_ms": (median([c - b for c, b in zip(consume_ms, build_ms)]), "ms"),
            "spark.jobs_per_consume": (consume_stats.jobs / reads, "count"),
            "spark.tasks_per_consume": (consume_stats.tasks / reads, "count"),
            "spark.input_mb_per_consume": (consume_stats.input_bytes / reads / 2**20, "MB"),
            "consume.useful_ratio": (rows_returned / consume_stats.input_records, "ratio")
            if consume_stats.input_records
            else "unavailable: no input records in the status store",
            "log.files": (files, "count"),
            "log.bytes_per_user_byte": (size / user_bytes, "ratio"),
        }
        out["generic_layers"] = {
            "generator.cpu_s": gen_cpu,
            "engine.cpu_s": jvm_cpu,
            "engine.busy_share": jvm_cpu / (wall * NPROC),
            "engine.ops": produce_stats.jobs + consume_stats.jobs,
            "storage.files": files,
        }
    spark.stop()
    return out
