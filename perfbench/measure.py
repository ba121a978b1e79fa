"""Set-up, the timed closed loop, the correctness check and the metric
arithmetic for one run of one workload."""

from __future__ import annotations

import os
import shutil
import time

from perfbench import layers
from perfbench.host import RssPeak, loadavg
from perfbench.stats import geomean, median, tail
from perfbench.spans import SparkCounters, Tracer

SETUP_REPS = 2


def _steal():
    """(before, after) steal sampler built on bench.py's counters."""
    import bench

    return bench._steal_counters, bench._steal_delta


def measure(wl, spark, args, session_s: float, root: str) -> dict:
    """Set up ``wl``, run its closed loop for ``args.seconds`` of timed
    wall, check it, and return the result line, the run record and the
    check failures."""
    # the repeatable part of set-up (generation) runs SETUP_REPS times;
    # its median enters setup_s
    reps = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        wl.setup_once(rep)
        reps.append(time.perf_counter() - t)
        if rep:
            shutil.rmtree(os.path.join(wl.work, f"setup{rep - 1}"), ignore_errors=True)
    t = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t
    setup_s = session_s + median(reps) + warm_s

    counters_fn, steal_delta = _steal()
    tracer = None
    if args.trace:
        tracer = Tracer(f"{wl.name}-{args.seed}-{os.getpid()}", SparkCounters(spark))
    steal0, load0 = counters_fn(), loadavg()
    rss = RssPeak()
    plain, traced = [], []
    spent = 0.0
    while spent < args.seconds or (tracer and not traced):
        prep = wl.prepare()
        use = tracer is not None and len(traced) < len(plain)
        if use:
            c = _traced_command(wl, tracer, prep)
        else:
            with rss:
                c = wl.command(prep)
        (traced if use else plain).append(c)
        spent += c["wall"]
    steal_pct = steal_delta(steal0, counters_fn())
    load1 = loadavg()

    problems = wl.check()
    cmds = plain + traced
    attempted = sum(c["attempted"] for c in cmds)
    failed = min(attempted, sum(c["failed"] for c in cmds) + len(problems))
    ops = [w for c in plain for w in c["ops"]]
    tail_pct, tail_s = tail(ops)
    walls = [c["wall"] for c in plain]
    e2e = {
        "run_s": (median(walls), "s"),
        "op_s": (geomean(ops), "s"),
        "rows_per_s": (sum(c["rows"] for c in plain) / sum(walls), "rows/s"),
        "setup_s": (setup_s, "s"),
    }
    written = sum(c.get("store_bytes", 0) for c in cmds)
    ingested = sum(c.get("crs_bytes", 0) for c in cmds)
    record = {
        "setup": {"session_s": session_s, "setup_reps_s": reps, "warmup_s": warm_s,
                  "preload_s": getattr(wl, "preload_s", None)},
        "samples": {"commands": len(plain), "ops": len(ops),
                    "op_median_s": median(ops), "op_tail_s": tail_s, "tail_pct": tail_pct,
                    "command_walls": walls,
                    **({"query_walls": plain[-1]["queries"]} if "queries" in plain[-1] else {})},
        "host": {"steal_pct": steal_pct, "loadavg_start": load0, "loadavg_end": load1},
        "sizes": _sizes(wl),
        "peak_rss_mb": rss.peak / 2**20,
        "failed_frac": failed / attempted,
        "write_amp": written / ingested if ingested else None,
        "store_bytes_written": written, "crs_bytes_ingested": ingested,
    }
    if tracer is None:
        metrics = e2e
    else:
        path = os.path.join(root, ".perfbench_out", f"spans-{tracer.run_id}.jsonl")
        tracer.dump(path)
        record["spans"] = os.path.relpath(path, root)
        metrics = layers.per_layer(wl, tracer, plain, traced, record, steal_pct,
                                   load0)
        cover = metrics["trace.self_cover"][0]
        if wl.name != "query_mix" and cover < layers.SELF_COVER_MIN:
            problems.append(f"trace.self_cover {cover:.3f} < {layers.SELF_COVER_MIN}: "
                            "the layer spans miss part of the traced command")
    result = {"correct": not problems and failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return {"result": result, "record": record, "problems": problems}


def _sizes(wl) -> dict:
    if hasattr(wl, "sizes"):
        return dict(wl.sizes)
    return {t.name: t.rows for t in wl.gen.tables}


def _traced_command(wl, tracer: Tracer, prep: dict) -> dict:
    """One command with every layer's public functions wrapped."""
    layers.patch_all(tracer, wl)
    root = tracer.open("bench:command")
    try:
        if wl.name == "query_mix":
            def on_query(q, run):
                idx = tracer.open(f"query:{q}")
                try:
                    return run(q)
                finally:
                    tracer.close(idx)
            c = wl.command(prep, on_query=on_query)
        else:
            c = wl.command(prep)
    finally:
        tracer.close(root)
        tracer.restore()
    c["root"] = root
    return c
