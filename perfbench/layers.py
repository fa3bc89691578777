"""Per-layer metrics of a traced run, from its spans, its SQL executions
and the status store.

Every sum is over the measured window (the timed cycles and the
workload's one-off ``finish`` operations) and divided by the number of
cycles, so a value is "per cycle", the one-off operations amortized.
``operators.convert.rows_failed`` is per incremental ingest. Latencies
(``*_p50_s``) are medians of the traced run's own operations.
"""

from __future__ import annotations

import os
import statistics

import tracing

#: ETLPipeline methods whose jobs are the ``etl`` phases
LIST_METHODS = ("index_table", "_read_buckets")
WRITE_METHODS = ("_swap_buckets", "_rewrite")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total


def install_hooks(tracer: tracing.Tracer) -> None:
    """Counters recorded at layer boundaries; set before ``install``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    def swap(sp, a, kw, out):
        pipe, buckets = a[0], (a[2] if len(a) > 2 else kw["buckets"])
        sp.args["buckets"] = len(buckets)
        sp.args["bytes"] = sum(
            _dir_bytes(os.path.join(pipe.index_path, f"bucket={b}")) for b in buckets
        )
        return out

    def rewrite(sp, a, kw, out):
        sp.args["bytes"] = _dir_bytes(a[0].index_path)
        return out

    def ingest(sp, a, kw, out):
        sp.args["chars"] = int(getattr(a[0], "last_ingest_metrics", {}).get("chars_written", 0) or 0)
        return out

    def to_markdown(sp, a, kw, out):
        obs = Observation(f"convert_{sp.sid}")
        sp.args["obs"] = obs
        return out.observe(obs, F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("failed"))

    tracer.hooks.update({
        "etl._swap_buckets": swap,
        "etl._rewrite": rewrite,
        "etl.ingest": ingest,
        "operators.convert.to_markdown": to_markdown,
    })


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def mark(tracer) -> tuple[int, int] | None:
    """A window boundary: (spans so far, SQL executions so far)."""
    if tracer is None:
        return None
    tracer.drain()
    return len(tracer.spans), len(tracer.queries)


def per_layer(spark, tracer, wl, rec, window, detail) -> dict:
    (w0, q0), (w1, q1) = window
    cycles = max(len(rec.cycles), 1)
    spans = tracer.spans
    jobs = tracing.read_jobs(spark)
    lost = tracing.missing_ids([j["id"] for j in jobs] + [-1])
    rec.check(not lost, f"status store lost {len(lost)} jobs (first ids {lost[:5]})")

    def sid_of(j):
        return tracer.span_of_group(j["group"])

    in_window = [j for j in jobs if sid_of(j) is not None and w0 <= sid_of(j) < w1]
    stage_ids = {s for j in in_window for s in j["stage_ids"]}
    stages = tracing.read_stages(spark)
    st = [stages[s] for s in stage_ids if s in stages]

    def per_cycle(x):
        return x / cycles

    m: dict[str, float] = {
        "spark.catalyst_s": per_cycle(sum(q["catalyst_s"] for q in tracer.queries[q0:q1])),
        "spark.exec_s": per_cycle(sum(j["duration_s"] for j in in_window)),
        "spark.jobs": per_cycle(len(in_window)),
        "spark.stages": per_cycle(len(st)),
        "spark.tasks": per_cycle(sum(s["tasks"] for s in st)),
        "spark.shuffle_write_bytes": per_cycle(sum(s["shuffle_write_bytes"] for s in st)),
        "spark.shuffle_read_bytes": per_cycle(sum(s["shuffle_read_bytes"] for s in st)),
        "spark.spill_bytes": per_cycle(sum(s["spill_bytes"] for s in st)),
        "spark.input_bytes": per_cycle(sum(s["input_bytes"] for s in st)),
        "session.build_s": _median(
            [sp.end - sp.start for sp in spans if sp.layer == "session" and sp.name == "build_session"]
        ),
    }
    tot = tracer.layer_totals(in_window, range(w0, w1))

    def lt(layer, key):
        return per_cycle(tot.get(layer, {}).get(key, 0))

    m["sources.files.scan_s"] = lt("sources.files", "call_s")
    m["sources.tables.call_s"] = lt("sources.tables", "call_s")
    m["functions.call_s"] = lt("functions.text", "call_s") + lt("functions.vectors", "call_s")
    m["plans.build_s"] = lt("plans", "call_s")
    m["plans.build_jobs"] = lt("plans", "jobs")
    for layer in tracing.LAYER_MODULES:
        if layer.startswith("operators."):
            m[f"{layer}.call_s"] = lt(layer, "call_s")
            m[f"{layer}.jobs"] = lt(layer, "jobs")

    win = spans[w0:w1]
    m["cache.persists"] = per_cycle(sum(1 for sp in win if sp.name == "tracked_persist"))
    m["cache.checkpoints"] = per_cycle(sum(1 for sp in win if sp.name == "tracked_local_checkpoint"))
    failed = [_observed(sp.args["obs"]) for sp in win if "obs" in sp.args]
    incr = [sp for sp in win if sp.layer == "bench" and sp.name == "incremental_ingest"]
    m["operators.convert.rows_failed"] = sum(failed) / len(incr) if incr else 0.0

    m.update(_etl_phases(tracer, in_window, w0, w1, cycles))
    samples = rec.samples
    m.update({
        "etl.index_files": detail.get("index_files", 0),
        "etl.index_bytes_per_user_byte": detail.get("index_bytes_per_user_byte", 0.0),
        "etl.ingest_docs_per_s": detail.get("ingest_docs_per_s", 0.0),
        "etl.incremental_ingest_p50_s": _median(samples.get("incremental_ingest", [])),
        "etl.upsert_p50_s": _median(samples.get("upsert", [])),
        "etl.delete_p50_s": _median(samples.get("delete", [])),
        "etl.compact_s": _median(samples.get("compact", [])),
        "etl.build_ann_index_s": _median(samples.get("build_ann_index", [])),
        "etl.search_p50_s": _median(samples.get("search", [])),
        "etl.hybrid_search_p50_s": _median(samples.get("hybrid_search", [])),
        "etl.ann_search_p50_s": _median(samples.get("ann_search", [])),
        "etl.search_recall": detail.get("search_recall", 0.0),
        "etl.ann_recall": detail.get("ann_recall", 0.0),
        "trace.op_p50_s": wl.op_p50(rec),
        "trace.cycle_p50_s": _median(rec.cycles),
    })
    extra = {"jobs_total": len(jobs), "jobs_in_window": len(in_window), "lost_jobs": lost[:20]}
    splits = getattr(wl, "splits", [])
    if splits:
        extra["query_split"] = [_split(s, jobs, sid_of) for s in splits]
        extra["query_split_gap_max"] = max(s["gap"] for s in extra["query_split"])
    return {"metrics": m, "extra": extra}


def _split(s: dict, jobs: list[dict], sid_of) -> dict:
    """A headline query's wall time against its attributed parts: the
    build span (eager jobs included), the noop write's Catalyst phases,
    and the time its jobs ran. ``gap`` is the unattributed share."""
    busy = tracing.merged_busy_s(
        [(j["start"], j["start"] + j["duration_s"]) for j in jobs if sid_of(j) == s["exec_sid"] and j["start"]]
    )
    parts = s["build_s"] + s["exec_catalyst_s"] + busy
    return {**s, "exec_jobs_s": busy, "gap": abs(s["wall_s"] - parts) / s["wall_s"]}


def _observed(obs) -> int:
    try:
        return int(obs.get.get("failed") or 0)
    except Exception:  # the observed plan never ran to completion
        return 0


def _etl_phases(tracer, in_window, w0, w1, cycles) -> dict:
    resolver = tracing.SiteResolver()
    phase = {"list": [0, 0.0], "write": [0, 0.0], "bucket_probe": [0, 0.0], "recount": [0, 0.0]}
    by_op: dict[int, list[dict]] = {}
    for j in in_window:
        chain = list(tracer.ancestors(tracer.span_of_group(j["group"])))
        root = chain[-1]
        by_op.setdefault(root.sid, []).append(j)
        etl = [sp for sp in chain if sp.layer == "etl"]
        if not etl:
            continue
        inner = etl[0].name
        if inner in LIST_METHODS:
            key = "list"
        elif inner in WRITE_METHODS:
            key = "write"
        elif inner == "ingest":
            fn, label = resolver.resolve(j["name"])
            key = {"buckets": "bucket_probe", "stats": "recount"}.get(label) if fn == "ingest" else None
        else:
            key = None
        if key is not None:
            phase[key][0] += 1
            phase[key][1] += j["duration_s"]

    win = tracer.spans[w0:w1]
    ops = [sp for sp in win if sp.layer == "bench" and sp.parent is None]
    etl_ops = {_root(tracer, sp).sid for sp in win if sp.layer == "etl"}
    self_s = 0.0
    for sp in ops:
        if sp.sid not in etl_ops:
            continue
        js = by_op.get(sp.sid, [])
        busy = tracing.merged_busy_s([(j["start"], j["start"] + j["duration_s"]) for j in js if j["start"]])
        self_s += (sp.end - sp.start) - busy

    def per_op(kind):
        sel = [sp for sp in ops if sp.name == kind]
        return (sum(len(by_op.get(sp.sid, [])) for sp in sel) / len(sel)) if sel else 0.0

    upserts = {sp.sid for sp in ops if sp.name == "upsert"}
    swaps = [
        sp for sp in win
        if sp.layer == "etl" and sp.name == "_swap_buckets" and _root(tracer, sp).sid in upserts
    ]
    ingests = [sp for sp in win if sp.layer == "etl" and sp.name == "ingest"]
    written = sum(
        sp.args.get("bytes", 0)
        for sp in win
        if sp.layer == "etl" and sp.name in WRITE_METHODS
        and any(a.name == "ingest" for a in tracer.ancestors(sp.parent))
    )
    chars = sum(sp.args.get("chars", 0) for sp in ingests)
    return {
        "etl.list_jobs": phase["list"][0] / cycles,
        "etl.list_s": phase["list"][1] / cycles,
        "etl.bucket_probe_s": phase["bucket_probe"][1] / cycles,
        "etl.write_s": phase["write"][1] / cycles,
        "etl.recount_s": phase["recount"][1] / cycles,
        "etl.driver_self_s": self_s / cycles,
        "etl.jobs_per_upsert": per_op("upsert"),
        "etl.jobs_per_delete": per_op("delete"),
        "etl.jobs_per_search": per_op("search"),
        "etl.buckets_rewritten_per_upsert": (
            sum(sp.args.get("buckets", 0) for sp in swaps) / len(upserts) if upserts else 0.0
        ),
        "etl.write_amp": written / chars if chars else 0.0,
    }


def _root(tracer, sp):
    *_, root = tracer.ancestors(sp.sid)
    return root
