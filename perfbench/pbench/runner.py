"""One benchmark run: set up several times, warm up, alternate timed
writes and reads for the given seconds, check the outputs, and (traced
runs only) split the write into layers and fold the event log."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import nullcontext

from . import eventlog, gen, host, layers
from .session import cores, make_spark, stop_spark
from .spans import Tracer, self_times
from .workloads import WORKLOADS, Ctx

SETUPS = 3


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, out_dir: str) -> dict:
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    events = os.path.join(work, "eventlog") if trace else None
    context = {"cores": cores(), "loadavg_start": host.loadavg()}
    j0 = host.cpu_jiffies()
    t0 = time.perf_counter()
    spark = make_spark(work, events)
    context["start_s"] = time.perf_counter() - t0
    try:
        tracer = Tracer(workload, trace, spark.sparkContext)
        ctx = Ctx(spark, work, seed, 2 * cores(), tracer)
        result = _run(WORKLOADS[workload](ctx), ctx, seconds, trace, context)
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        context["stop_s"] = time.perf_counter() - t0
    context["steal_pct"] = host.steal_pct(j0, host.cpu_jiffies())
    context["loadavg_end"] = host.loadavg()
    if trace:
        _trace_metrics(ctx, events)
        tracer.dump(os.path.join(out_dir, f"{workload}.spans.json"))
    report = {
        "workload": workload, "seed": seed, "trace": trace, "host": context,
        "metrics": {n: ctx.report.samples[n] for n in ctx.report.samples},
        "split": ctx.split, "errors": ctx.tally.errors,
    }
    with open(os.path.join(out_dir, f"{workload}.{'trace' if trace else 'run'}.json"), "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    return {
        **result, "context": context, "report": ctx.report, "split": ctx.split,
        "errors": ctx.tally.errors, "aliases": WORKLOADS[workload].aliases,
    }


def _run(wl, ctx: Ctx, seconds: float, trace: bool, context: dict) -> dict:
    t, rep = ctx.tally, ctx.report
    phases = context["phase_s"] = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    for i in range(SETUPS):
        if i:
            wl.release()
        t0 = time.perf_counter()
        with t.op("setup"):
            with ctx.tracer.span("setup"):
                wl.setup()
            rep.add("setup_s", "s", time.perf_counter() - t0)
    phase("setup")
    with t.op("warm"):
        wl.warm()
    phase("warm")
    context["raw_cpu_ops_per_s_before"] = host.raw_cpu_ops_per_s()
    walls = {"traced": [], "untraced": []}
    deadline = time.perf_counter() + seconds
    n = 0
    # a traced run times one untraced and one traced write at least
    while n < (2 if trace else 1) or time.perf_counter() < deadline:
        traced = trace and n % 2 == 1
        with t.op("write"):
            with ctx.tracer.span(f"{wl.name}.write") if traced else nullcontext():
                keys, dt = wl.write()
            rep.add("write_keys_per_s", "1/s", keys / dt)
            walls["traced" if traced else "untraced"].append(dt)
        for _ in range(wl.reads_per_write):
            with t.op("read"):
                keys, dt = wl.read()
                rep.add("read_keys_per_s", "1/s", keys / dt)
        n += 1
    phase("measure")
    context["raw_cpu_ops_per_s_after"] = host.raw_cpu_ops_per_s()
    with t.op("check"):
        wl.check()
    with t.op("bytes_per_key"):
        rep.add("bytes_per_key", "bytes", wl.bytes_per_key())
    phase("check")
    if trace:
        with t.op("layer_split"):
            wl.layer_split()
        keys = gen.key_batch(ctx.seed)
        with t.op("layers"):
            layers.kernel_layers(keys, rep)
            layers.sketch_layers(keys, rep)
            layers.xor_core_layers(keys, ctx.seed, rep)
        med = statistics.median
        rep.add("trace.overhead_s", "s", med(walls["traced"]) - med(walls["untraced"]))
        rep.add("trace.layer_cover", "ratio",
                med(ctx.split["split.write_sum_s"]) / med(walls["untraced"]))
        phase("trace")
    rss = context["peak_rss_mb"] = host.peak_rss_mb()
    rep.add("peak_rss_mb", "MB", rss["total"])
    return {"correct": t.correct, "attempted": t.attempted, "failed": t.failed}


def _trace_metrics(ctx: Ctx, events: str) -> None:
    """Engine counters of the traced writes, per write, from the event log."""
    groups = eventlog.fold(events)
    name = f"{ctx.tracer.workload}.write"
    reps = len(ctx.tracer.walls(name))
    totals = groups.get(name, dict.fromkeys(eventlog.COUNTERS, 0))
    for k, unit in eventlog.COUNTERS.items():
        ctx.report.add(f"spark.{k}", unit, totals[k] / max(reps, 1))
    for k, v in self_times(ctx.tracer.spans).items():
        ctx.split.setdefault(f"self.{k}", []).append(v)
