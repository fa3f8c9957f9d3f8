"""The traced run: spans around each layer's public calls, replays of
the per-row work, and the per-layer metrics computed from them.

Spans come only from the benchmark's own wrappers (see
``measure.Tracer.wrap``); nothing inside the engine is changed.
"""

from __future__ import annotations

import resource
import time

import measure

PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.latest_offset_ms_p50": "ms", "sources.wal_commit_ms_p50": "ms",
    "sources.trigger_gap_s": "s", "sources.backlog_max": "count",
    "sources.gen_late_s": "s",
    "functions.parse_s": "s", "functions.parse_rows_per_s": "1/s",
    "functions.ns_kept_frac": "ratio",
    "operators.fold_s": "s", "operators.fold_out_ratio": "ratio",
    "streaming.apply_batch_s_p50": "s", "streaming.self_s_p50": "s",
    "streaming.transform_plan_s": "s", "streaming.per_row_frac": "ratio",
    "lake.create_s": "s", "lake.merge_s_p50": "s", "lake.merge_self_s": "s",
    "lake.compact_s": "s", "lake.compactions": "count", "lake.expire_s": "s",
    "lake.delta_files_at_read": "count", "lake.read_s": "s",
    "lake.bytes_written": "B", "lake.files_written": "count",
    "lake.changed_bucket_frac": "ratio",
    "checkpoints.append_s_p50": "s", "checkpoints.compact_s": "s",
    "sinks.bulk_load_s": "s", "sinks.apply_net_events_s_p50": "s",
    "sinks.expire_s": "s", "sinks.read_s": "s",
    "sinks.bytes_written": "B", "sinks.files_written": "count",
    "sinks.changed_bucket_frac": "ratio",
    "mem.jvm_rss_peak_mb": "MB", "mem.python_rss_peak_mb": "MB",
}


def transform_owner(pipe):
    """The object whose ``transform`` a pipeline calls: the search
    pipeline delegates parsing to an inner lake pipeline."""
    return getattr(pipe, "_helper", pipe)


def install_spans(tracer: measure.Tracer, spec, pipe, dest) -> None:
    """Wrap each layer's public calls on this run's objects."""
    tracer.wrap(transform_owner(pipe), "transform", "streaming.transform")
    if spec.name == "search":
        for m in ("bulk_load", "apply_net_events", "expire_versions", "read"):
            tracer.wrap(dest, m, f"sinks.{m}")
        return
    for m in ("create_or_replace", "merge", "compact", "expire_versions", "read"):
        tracer.wrap(dest, m, f"lake.{m}")
    for m in ("append", "compact"):
        tracer.wrap(pipe.cplog, m, f"checkpoints.{m}")


def replay_batches(spark, spec, pipe, tracer, segments: list[str]) -> list[dict]:
    """Per-row costs, measured after the stream has stopped by replaying
    each batch's segment through the public parse and fold functions:
    scan alone, scan + ``transform`` (namespace filter and parse), and
    scan + transform + ``fold_net_events``. The differences are parse and
    fold; observed counts give rows kept, parsed and folded."""
    from pyspark.sql import Observation, functions as F

    from py_mongo_sync_spark.functions.namespace import (
        rename_ns,
        system_ns_filter,
        valid_oplog_filter,
    )
    from py_mongo_sync_spark.operators.dedup import fold_net_events
    from py_mongo_sync_spark.schema import KEY_COLS, OPLOG_SCHEMA
    from py_mongo_sync_spark.streaming.pipeline import PAYLOAD_COLS

    transform = tracer.original(transform_owner(pipe), "transform")
    cfg = spec.sync_config("", "")
    op, ns = F.col("op"), F.col("ns")
    kept = (
        valid_oplog_filter(cfg, op, ns) & system_ns_filter(ns)
        & (rename_ns(cfg, ns) == spec.dst_ns) & op.isin("i", "u", "d")
    )

    def run(df, *aggs):
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"), *aggs)
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0, obs.get

    out = []
    for path in segments:
        ev = spark.read.schema(OPLOG_SCHEMA).parquet(path)
        t_scan, c_scan = run(ev, F.sum(kept.cast("long")).alias("kept"))
        parsed = transform(ev)
        t_parse, c_parse = run(parsed)
        folded = fold_net_events(
            parsed, key_cols=KEY_COLS,
            payload_cols=[c for c in PAYLOAD_COLS if c in parsed.columns],
            ts_col="ts", op_col="op", patch_col="is_patch",
            seq_col="seq" if "seq" in parsed.columns else None,
            unset_col="unset_cols", inc_col="inc_map",
        )
        t_fold, c_fold = run(folded)
        out.append({
            "scan_s": t_scan, "parse_s": max(0.0, t_parse - t_scan),
            "fold_s": max(0.0, t_fold - t_parse),
            "rows": c_scan["n"], "kept": c_scan["kept"] or 0,
            "parsed": c_parse["n"], "folded": c_fold["n"],
        })
    return out


def layer_metrics(tracer, spec, setup: dict, applied: dict, rec, progress: list[dict],
                  replays: list[dict], delta_files: int, jvm_rss_mb: float) -> dict:
    """Every per-layer metric; layers the workload does not run read 0.
    Sums are over the apply phase, ``_p50`` values are medians per call
    or per batch."""
    def med(xs):
        return measure.median(xs) if xs else 0.0

    def durations(name, roots_only=False):
        return [s["end"] - s["start"] for s in tracer.named(name, roots_only)]

    apply_spans = tracer.named("streaming.apply_batch")
    apply_total = sum(s["end"] - s["start"] for s in apply_spans)
    replay_of = dict(zip([b["batch"] for b in rec.batches], replays))
    is_lake = spec.name != "search"
    # the destination call's self time, less the parse and fold its lazy
    # source executes inside it (measured by the replays)
    dest_self = sum(
        max(0.0, tracer.self_time(s) - replay_of.get(s["batch"], {}).get("parse_s", 0.0)
            - replay_of.get(s["batch"], {}).get("fold_s", 0.0))
        for s in tracer.named("lake.merge" if is_lake else "sinks.apply_net_events")
    )
    parse_s = sum(r["parse_s"] for r in replays)
    fold_s = sum(r["fold_s"] for r in replays)
    rows = sum(r["rows"] for r in replays)
    parsed = sum(r["parsed"] for r in replays)
    changed = [b["changed_buckets"] for b in rec.batches if b.get("changed_buckets") is not None]
    changed_frac = sum(changed) / (len(changed) * spec.n_buckets) if changed else 0.0
    written_b, written_n = sum(rec.new_files.values()), len(rec.new_files)
    lake_only = (lambda v: v if is_lake else 0)
    sink_only = (lambda v: 0 if is_lake else v)
    return {
        "session.start_s": med(setup["starts"]),
        "session.warmup_s": setup["warm_s"],
        "sources.latest_offset_ms_p50": med([p.get("latestOffset", 0) for p in progress]),
        "sources.wal_commit_ms_p50": med([p.get("walCommit", 0) for p in progress]),
        "sources.trigger_gap_s": med([
            (p.get("triggerExecution", 0) - p.get("addBatch", 0)) / 1000.0 for p in progress
        ]),
        "sources.backlog_max": applied["backlog_max"],
        "sources.gen_late_s": applied["gen_late_s"],
        "functions.parse_s": parse_s,
        "functions.parse_rows_per_s": parsed / parse_s if parse_s else 0.0,
        "functions.ns_kept_frac": sum(r["kept"] for r in replays) / rows if rows else 0.0,
        "operators.fold_s": fold_s,
        "operators.fold_out_ratio": sum(r["folded"] for r in replays) / parsed if parsed else 0.0,
        "streaming.apply_batch_s_p50": med(durations("streaming.apply_batch")),
        "streaming.self_s_p50": med([tracer.self_time(s) for s in apply_spans]),
        "streaming.transform_plan_s": med(durations("streaming.transform")),
        "streaming.per_row_frac": (parse_s + fold_s + dest_self) / apply_total if apply_total else 0.0,
        "lake.create_s": sum(durations("lake.create_or_replace")),
        "lake.merge_s_p50": med(durations("lake.merge")),
        "lake.merge_self_s": lake_only(dest_self),
        "lake.compact_s": sum(durations("lake.compact")),
        "lake.compactions": len(durations("lake.compact")),
        "lake.expire_s": sum(durations("lake.expire_versions")),
        "lake.delta_files_at_read": delta_files,
        "lake.read_s": med(durations("lake.read", roots_only=True)),
        "lake.bytes_written": lake_only(written_b),
        "lake.files_written": lake_only(written_n),
        "lake.changed_bucket_frac": lake_only(changed_frac),
        "checkpoints.append_s_p50": med(durations("checkpoints.append")),
        "checkpoints.compact_s": sum(durations("checkpoints.compact")),
        "sinks.bulk_load_s": sum(durations("sinks.bulk_load")),
        "sinks.apply_net_events_s_p50": med(durations("sinks.apply_net_events")),
        "sinks.expire_s": sum(durations("sinks.expire_versions")),
        "sinks.read_s": med(durations("sinks.read", roots_only=True)),
        "sinks.bytes_written": sink_only(written_b),
        "sinks.files_written": sink_only(written_n),
        "sinks.changed_bucket_frac": sink_only(changed_frac),
        "mem.jvm_rss_peak_mb": jvm_rss_mb,
        "mem.python_rss_peak_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }
