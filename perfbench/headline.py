"""``headline_sf0.1``: the 16 ROADMAP headline entries, one caller.

Same definition as ``bench.py``: the same session warm-up, one untimed
warm-up execution per entry, then timed executions (builder call plus
a run through the noop sink); an entry's time is the median of its
timed executions and ``headline_total_s`` is the sum of those medians.
The first timed execution right after the warm-up still runs slower
while the JIT warms up, and the median of two executions, their mean,
carries half of that.  ``work_s`` therefore sums each entry's fastest
timed execution: load from other tenants of the host only ever adds
time, so the fastest of several repetitions is the steadiest estimate
(the reason ``timeit`` reports the minimum).  ``headline_total_s``
stays in the detail line.

The warm-up execution collects the entry's output (where ``bench.py``
runs the noop sink and a ``count()``); its row count and fingerprint
must equal the ones recorded in ``fingerprints.json``, which were
checked against the DuckDB oracle.
"""

from __future__ import annotations

import json
import os
import time

from perfbench.common import (
    DATA,
    HERE,
    NPROC,
    cpu_seconds,
    frame_fingerprint,
    geomean,
    median,
    tree_cpu_seconds,
    vm_hwm_mb,
)

HEADLINE = [
    "flo_consume_vv",
    "flo_glob_recursive",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q18_large_volume_customers",
    "top3_customers_per_nation",
    "asof_last_click_before_purchase",
    "dedup_exact",
    "dedup_minhash_lsh",
    "token_count",
    "embedding_topk_bruteforce",
    "stream_tumbling_counts",
    "multimodal_features",
]
ARROW_ENTRIES = ("dedup_minhash_lsh", "embedding_topk_bruteforce", "multimodal_features")
STREAM_ENTRY = "stream_tumbling_counts"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def output_problem(name: str, rows: int, fp: str, expected: dict) -> str | None:
    """The entry's output must have the recorded row count and content
    fingerprint."""
    want = expected.get(name)
    if want is None:
        return f"{name}: no recorded fingerprint"
    if (rows, fp) == (want["rows"], want["fingerprint"]):
        return None
    return f"{name}: {rows} rows, fingerprint {fp}; recorded {want['rows']} rows, {want['fingerprint']}"


def reps_for(seconds: int) -> int:
    """Timed executions per entry: one per 10 s of ``--seconds`` (a
    timed pass over the 16 entries takes about 11-14 s on 4 cores)."""
    return max(1, seconds // 10)


def warm_session(spark, sf_dir: str) -> None:
    """The untimed session warm-up ``bench.py`` does, step for step."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from flo_spark.queries import load

    spark.range(1).count()
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        load(spark, sf_dir, t).count()
    spark.range(256).repartition(32).mapInPandas(lambda it: it, "id long").count()
    r = spark.range(10000).withColumn("g", (F.col("id") % 10).cast("int"))
    r.groupBy("g").agg(F.count("*"), F.sum("id")).count()
    r.withColumn("rn", F.row_number().over(W.partitionBy("g").orderBy("id"))).count()
    r.alias("a").join(r.alias("b"), "id").count()
    r.orderBy(F.col("id").desc()).limit(5).count()


def run(ctx) -> dict:
    from flo_spark.queries import queries
    from flo_spark.session import get_spark

    from perfbench import spark_readers as sr

    sf_dir = os.path.join(DATA, ctx.scale)
    with open(os.path.join(HERE, "fingerprints.json")) as f:
        expected = json.load(f)[ctx.scale]
    tracer = ctx.tracer

    with tracer.span("setup.session"):
        spark = get_spark("perfbench_headline")
        sc = spark.sparkContext
        jpid = sr.jvm_pid(spark)
    with tracer.span("setup.warm_session"):
        warm_session(spark, sf_dir)
    progress = sr.ProgressLog(spark) if ctx.trace else None
    qmap = queries()
    setup_s = time.perf_counter() - ctx.t_start
    reps = reps_for(ctx.seconds)

    attempted = failed = 0
    problems: list[str] = []
    exec_s: dict[str, float] = {}
    best_s: dict[str, float] = {}
    build_s: dict[str, float] = {}
    stats = sr.GroupStats()
    py_eval: dict[str, float | None] = {}
    triggers: list[dict] = []
    trigger_gaps = 0
    exec_wall = gen_cpu = jvm_cpu = 0.0
    # wall and CPU time of the rep-th timed execution of every entry
    pass_s, pass_cpu = [0.0] * reps, [0.0] * reps
    for name in HEADLINE:
        fn = qmap[name]
        # untimed warm-up execution; its collected output is checked
        t_warm = time.perf_counter()
        with tracer.span("warmup", op=f"{name}/warmup"):
            rows, fp = frame_fingerprint(fn(spark, sf_dir).toPandas())
        setup_s += time.perf_counter() - t_warm
        attempted += 1
        problem = output_problem(name, rows, fp, expected)
        if problem:
            failed += 1
            problems.append(problem)

        samples, builds = [], []
        entry_stats = sr.GroupStats()
        for rep in range(reps):
            op = f"{name}/{rep}"
            c0, j0 = cpu_seconds(), tree_cpu_seconds(jpid)
            if ctx.trace:
                sc.setJobGroup(op, op)
                mark = progress.mark() if name == STREAM_ENTRY else None
            attempted += 1
            with tracer.span("entry", op=op):
                t0 = time.perf_counter()
                with tracer.span("queries.build"):
                    df = fn(spark, sf_dir)
                t1 = time.perf_counter()
                with tracer.span("spark.exec"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            samples.append(t2 - t0)
            builds.append(t1 - t0)
            g_cpu, j_cpu = cpu_seconds() - c0, tree_cpu_seconds(jpid) - j0
            gen_cpu += g_cpu
            jvm_cpu += j_cpu
            exec_wall += t2 - t0
            pass_s[rep] += t2 - t0
            pass_cpu[rep] += g_cpu + j_cpu
            if ctx.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
                g = sr.read_group(spark, op, want_sql=name in ARROW_ENTRIES)
                entry_stats.add(g)
                if mark is not None:
                    got = progress.since(mark)
                    if got is None:
                        trigger_gaps += 1
                    else:
                        triggers.extend(got)
        exec_s[name] = median(samples)
        best_s[name] = min(samples)
        build_s[name] = median(builds)
        stats.add(entry_stats)
        if name in ARROW_ENTRIES:
            py_eval[name] = entry_stats.python_eval_ms / reps if entry_stats.python_eval_seen else None

    peak = vm_hwm_mb() + vm_hwm_mb(jpid)
    parallelism = sc.defaultParallelism
    total = sum(exec_s.values())
    gm = geomean(list(exec_s.values()))
    best_total = sum(best_s.values())
    best_gm = geomean(list(best_s.values()))
    cpu = median(pass_cpu)
    named = {
        "setup_s": (setup_s, "s"),
        "headline_total_s": (total, "s"),
        "headline_geomean_s": (gm, "s"),
        "headline_best_total_s": (best_total, "s"),
        "headline_best_geomean_s": (best_gm, "s"),
        "cpu_s": (cpu, "s"),
        "peak_rss_mb": (peak, "MB"),
    }
    out = {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "e2e": {
            "setup_s": setup_s,
            "work_s": best_total,
            "geomean_ms": best_gm * 1e3,
            "cpu_s": cpu,
            "peak_rss_mb": peak,
        },
        "named": named,
        "record": {
            "spark_default_parallelism": parallelism,
            "timed_executions_per_entry": reps,
            "pass_s": pass_s,
        },
    }
    if ctx.trace:
        layers: dict[str, tuple] = {
            "queries.build_ms": (sum(build_s.values()) * 1e3, "ms"),
            "spark.jobs": (stats.jobs / reps, "count"),
            "spark.stages": (stats.stages / reps, "count"),
            "spark.tasks": (stats.tasks / reps, "count"),
            "spark.failed_tasks": (stats.failed_tasks, "count"),
            "spark.shuffle_write_mb": (stats.shuffle_write_bytes / reps / 2**20, "MB"),
            "spark.shuffle_read_mb": (stats.shuffle_read_bytes / reps / 2**20, "MB"),
            "spark.input_mb": (stats.input_bytes / reps / 2**20, "MB"),
            "spark.executor_run_s": (stats.executor_run_ms / reps / 1e3, "s"),
            "spark.slot_busy_share": (stats.executor_run_ms / 1e3 / (exec_wall * parallelism), "ratio"),
        }
        for name in HEADLINE:
            layers[f"exec_s.{name}"] = (exec_s[name], "s")
        for name, v in py_eval.items():
            layers[f"spark.python_eval_ms.{name}"] = (
                (v, "ms") if v is not None else "unavailable: the plan has no Python node ('time to run Python workers' metric)"
            )
        if triggers and not trigger_gaps:
            layers["streaming.triggers"] = (len(triggers) / reps, "count")
            for ph in sr.ProgressLog.PHASES:
                layers[f"streaming.{ph}_ms"] = (sum(t.get(ph, 0) for t in triggers) / reps, "ms")
        else:
            layers["streaming.triggers"] = (
                f"unavailable: {trigger_gaps} of {reps} query terminations never reached the listener"
            )
        spark.streams.removeListener(progress.listener)
        out["layers"] = layers
        out["generic_layers"] = {
            "generator.cpu_s": gen_cpu,
            "engine.cpu_s": jvm_cpu,
            "engine.busy_share": jvm_cpu / (exec_wall * NPROC),
            "engine.ops": stats.jobs,
            "storage.files": len(TABLES),
        }
    spark.stop()
    return out
