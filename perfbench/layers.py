"""The traced pass: which public functions make up each layer, and the
per-layer metrics computed from the spans.

Layers are the program's modules. Every wrapped call becomes a span
named ``<layer>:<function>``; the benchmark's own spans are named
``bench:...`` and belong to no layer. Times named after functions
(``crs.read_s``, ``store.write_s``, ...) are the inclusive wall of those
calls; ``driver.self_s`` and every Spark counter of a layer
(``<layer>.jobs``, ``.task_cpu_s``, ...) are exclusive: what ran while
that layer's span was the innermost open span. Per-layer values are
per timed command (per pass for ``query_mix``).
"""

from __future__ import annotations

from perfbench.query_mix import QUERIES
from perfbench.stats import median, tail
from perfbench.spans import Span, Tracer, self_times

LEDGER_METHODS = ["create_job", "finish_job", "any_active", "heartbeat",
                  "remove_zombies", "purge_old_jobs", "table", "acquire_lock",
                  "release_lock", "record_dataset_loaded", "tables_affected",
                  "stats_rows"]
# on the ETL workload the layer self times must cover at least this
# share of the traced command wall; the rest is the benchmark's own
# spans and bookkeeping
SELF_COVER_MIN = 0.95
MERGE_PLAN = ["prepare_change_table", "fix_key_swaps", "classify_actions",
              "apply_actions", "full_diff"]

# every per-layer metric, with its unit, in output order
METRICS: dict[str, str] = {
    "driver.self_s": "s", "driver.jobs_per_table_dataset": "jobs",
    "driver.jobs": "jobs", "driver.task_cpu_s": "s",
    "repository.s": "s", "repository.calls": "calls",
    "crs.header_s": "s", "crs.read_s": "s", "crs.scan_passes": "ratio",
    "crs.cleanse_path": "flag", "crs.jobs": "jobs", "crs.task_cpu_s": "s",
    "crs.input_bytes": "bytes",
    "merge.plan_s": "s", "merge.stats_s": "s", "merge.stats_jobs": "jobs",
    **{f"merge.actions.{a}": "rows" for a in "IU0DX"},
    "merge.jobs": "jobs", "merge.task_cpu_s": "s", "merge.shuffle_bytes": "bytes",
    "views.refresh_s": "s", "views.jobs": "jobs",
    "views.task_cpu_s": "s",
    "store.write_s": "s", "store.write_calls": "calls", "store.write_bytes": "bytes",
    "store.read_s": "s", "store.read_calls": "calls", "store.jobs": "jobs",
    "store.task_cpu_s": "s", "store.shuffle_bytes": "bytes", "store.spill_bytes": "bytes",
    "ledger.s": "s", "ledger.calls": "calls",
    **{k: u for q in QUERIES for k, u in (
        (f"query.{q}_s", "s"), (f"query.{q}.jobs", "jobs"),
        (f"query.{q}.task_cpu_s", "s"), (f"query.{q}.shuffle_bytes", "bytes"))},
    "run.jobs": "jobs", "run.stages": "stages", "run.tasks": "tasks",
    "run.task_cpu_s": "s", "run.gc_s": "s", "run.spill_bytes": "bytes",
    "l5_table_s": "s", "l5_table_s.tail": "s",
    "changes_per_s": "rows/s", "write_amp": "ratio", "peak_rss_mb": "MB",
    "failed_frac": "ratio",
    "host.steal_pct": "%", "host.loadavg": "load",
    "trace.overhead": "ratio", "trace.self_cover": "ratio",
}


def patch_all(tracer: Tracer, wl) -> None:
    """Wrap the public functions of every layer. ``driver`` imports
    ``read_crs``, ``parse_header``, ``refresh_views`` and ``seed_views``
    by name, so those are wrapped in its namespace too."""
    import linz_bde_uploader_spark.driver as D
    import linz_bde_uploader_spark.operators.merge as M
    import linz_bde_uploader_spark.operators.view_refresh as V
    import linz_bde_uploader_spark.sources.crs as C
    from linz_bde_uploader_spark.control.ledger import Ledger
    from linz_bde_uploader_spark.sources.repository import BdeRepository, Dataset
    from linz_bde_uploader_spark.sources.store import TableStore

    p = tracer.patch
    for f in ("apply_updates", "upload_table_level0", "upload_table_level5"):
        p(D.BdeUploader, f, f"driver:{f}")
    p(BdeRepository, "select", "repository:select")
    p(BdeRepository, "latest", "repository:latest")
    p(Dataset, "files", "repository:files")
    for mod in (C, D):
        p(mod, "parse_header", "crs:parse_header")
        p(mod, "read_crs", "crs:read_crs")
    p(C, "cleanse_text", "crs:cleanse_text")
    for f in MERGE_PLAN:
        p(M, f, f"merge:{f}")
    p(M, "merge_stats", "merge:merge_stats")
    _count_actions(tracer, M)
    for mod in (V, D):
        p(mod, "refresh_views", "views:refresh_views")
        p(mod, "seed_views", "views:seed_views")
    p(TableStore, "write", "store:write")
    p(TableStore, "read", "store:read")
    for f in LEDGER_METHODS:
        p(Ledger, f, f"ledger:{f}")


def _count_actions(tracer: Tracer, M) -> None:
    """After each ``merge_stats``, count the actions frame by action in a
    ``bench:`` span whose Spark work is discarded, so the count shows in
    no layer."""
    traced = M.merge_stats

    def merge_stats(actions):
        out = traced(actions)
        tracer.run_untraced("bench:count_actions", lambda: tracer.actions.update(
            {r["action"]: r["count"] for r in actions.groupBy("action").count().collect()}))
        return out

    tracer.patched.append((M, "merge_stats", traced))
    M.merge_stats = merge_stats


def _layer(s: Span) -> str:
    return s.name.split(":", 1)[0]


def _outermost(spans: list[Span], pred) -> list[Span]:
    out = []
    for s in spans:
        if not pred(s):
            continue
        p = s.parent
        while p is not None and not pred(spans[p]):
            p = spans[p].parent
        if p is None:
            out.append(s)
    return out


def _self_counters(spans: list[Span]) -> list[dict[str, float]]:
    own = [dict(s.counters) for s in spans]
    for s in spans:
        if s.parent is not None:
            for k, v in s.counters.items():
                own[s.parent][k] = own[s.parent].get(k, 0.0) - v
    return own


def _cleanse_path(wl) -> int:
    """1 when the cleanse of this workload's bde_copy block takes the
    per-row UDF fallback, 0 for the composed expressions."""
    if not hasattr(wl, "upload"):
        return 0
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.sources.crs import cleanse_text

    expr = str(cleanse_text(F.col("x"), wl.upload.config.cleanse))
    return 0 if "translate" in expr else 1


def per_layer(wl, tracer: Tracer, plain: list[dict], traced: list[dict],
              record: dict, steal_pct, load0) -> dict[str, tuple[float, str]]:
    spans = tracer.spans
    selfs = self_times(spans)
    own = _self_counters(spans)
    n = len(traced)
    v: dict[str, float] = dict.fromkeys(METRICS, 0.0)

    def named(*names):
        return [s for s in spans if s.name in names]

    def dur(ss):
        return sum(s.end - s.start for s in ss) / n

    def layer_self(layer, key):
        return sum(own[i].get(key, 0.0) for i, s in enumerate(spans)
                   if _layer(s) == layer) / n

    v["driver.self_s"] = sum(t for s, t in zip(spans, selfs) if _layer(s) == "driver") / n
    uploads = named("driver:upload_table_level0", "driver:upload_table_level5")
    if uploads:
        v["driver.jobs_per_table_dataset"] = (sum(s.counters.get("jobs", 0) for s in uploads)
                                              / len(uploads))
    repo = [s for s in spans if _layer(s) == "repository"]
    v["repository.s"] = dur(_outermost(spans, lambda s: _layer(s) == "repository"))
    v["repository.calls"] = len(repo) / n
    v["crs.header_s"] = dur(named("crs:parse_header"))
    v["crs.read_s"] = dur(_outermost(spans, lambda s: s.name == "crs:read_crs"))
    crs_bytes = sum(c.get("crs_bytes", 0) for c in traced)
    if crs_bytes:
        roots = [spans[c["root"]] for c in traced]
        v["crs.scan_passes"] = sum(s.counters.get("text_scan_bytes", 0)
                                   for s in roots) / crs_bytes
    v["crs.cleanse_path"] = _cleanse_path(wl)
    v["merge.plan_s"] = dur(named(*[f"merge:{f}" for f in MERGE_PLAN]))
    stats = named("merge:merge_stats")
    v["merge.stats_s"] = dur(stats)
    v["merge.stats_jobs"] = sum(s.counters.get("jobs", 0) for s in stats) / n
    for a in "IU0DX":
        v[f"merge.actions.{a}"] = tracer.actions.get(a, 0) / n
    v["views.refresh_s"] = dur(named("views:refresh_views"))
    writes, reads = named("store:write"), named("store:read")
    v["store.write_s"], v["store.write_calls"] = dur(writes), len(writes) / n
    v["store.read_s"], v["store.read_calls"] = dur(reads), len(reads) / n
    v["store.write_bytes"] = sum(c.get("store_bytes", 0) for c in traced) / n
    ledger = [s for s in spans if _layer(s) == "ledger"]
    v["ledger.s"] = dur(_outermost(spans, lambda s: _layer(s) == "ledger"))
    v["ledger.calls"] = len(ledger) / n
    for layer in ("driver", "crs", "merge", "views", "store"):
        v[f"{layer}.task_cpu_s"] = layer_self(layer, "task_cpu_s")
        if f"{layer}.jobs" in v:
            v[f"{layer}.jobs"] = layer_self(layer, "jobs")
    v["crs.input_bytes"] = layer_self("crs", "input_bytes")
    for layer in ("merge", "store"):
        v[f"{layer}.shuffle_bytes"] = (layer_self(layer, "shuffle_read_bytes")
                                       + layer_self(layer, "shuffle_write_bytes"))
    v["store.spill_bytes"] = layer_self("store", "spill_bytes")
    for q in QUERIES:
        qs = named(f"query:{q}")
        if qs:
            v[f"query.{q}_s"] = median([s.end - s.start for s in qs])
            v[f"query.{q}.jobs"] = sum(s.counters.get("jobs", 0) for s in qs) / len(qs)
            v[f"query.{q}.task_cpu_s"] = sum(s.counters.get("task_cpu_s", 0)
                                             for s in qs) / len(qs)
            v[f"query.{q}.shuffle_bytes"] = sum(
                s.counters.get("shuffle_read_bytes", 0)
                + s.counters.get("shuffle_write_bytes", 0) for s in qs) / len(qs)
    roots = [spans[c["root"]] for c in traced]
    for key in ("jobs", "stages", "tasks", "task_cpu_s", "gc_s", "spill_bytes"):
        v[f"run.{key}"] = sum(s.counters.get(key, 0) for s in roots) / n

    # the workload-specific timings, from the untraced commands
    ops = [w for c in plain for w in c["ops"]]
    walls = sum(c["wall"] for c in plain)
    if wl.name == "nightly_l5":
        v["l5_table_s"] = median(ops)
        v["l5_table_s.tail"] = tail(ops)[1]
    v["changes_per_s"] = sum(c["changes"] for c in plain) / walls
    v["write_amp"] = record["write_amp"] or 0.0
    v["peak_rss_mb"] = record["peak_rss_mb"]
    v["failed_frac"] = record["failed_frac"]
    v["host.steal_pct"] = steal_pct if steal_pct is not None else 0.0
    v["host.loadavg"] = load0[0]
    v["trace.overhead"] = (median([c["wall"] for c in traced])
                           / median([c["wall"] for c in plain]) - 1)
    layer_self_sum = sum(t for s, t in zip(spans, selfs) if _layer(s) != "bench")
    v["trace.self_cover"] = layer_self_sum / sum(s.end - s.start for s in roots)
    return {k: (float(v[k]), METRICS[k]) for k in METRICS}

