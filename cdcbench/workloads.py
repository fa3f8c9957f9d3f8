"""The benchmark's workloads, driven through the engine's public API.

Each workload runs the same four phases with nothing overlapping:

1. inputs: snapshot, event segments, sampled lookup keys and the
   sequential oracle's final state, generated from the seed and cached;
2. snapshot load, timed;
3. the apply phase: a Structured Streaming query with one segment per
   microbatch (``max_files_per_trigger=1``), timed per batch from a thin
   wrapper around ``apply_batch``;
4. a quiescent read phase (full scans, then key lookups) and the final
   comparison with the oracle.

``search`` drains a backlog across several namespaces into the search
sink; ``tail`` publishes segments on a fixed schedule into a
merge-on-read lake table while the stream runs (an open loop). See
README.md for why these two.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import random
import shutil
import threading
import time
import traceback

import measure

#: Part of the input cache key, with the workload's Spec: bump it when
#: the generated files change while the Spec does not.
INPUT_VERSION = "v2"
TURNS = 10
HOT_FRAC = 0.05
COMPARE_COLS = ["role", "text", "tool", "score", "ts"]
#: Untimed scans and lookups of the final destination before the timed
#: ones: without them the first few dozen reads of a run keep getting
#: faster.
WARM_SCANS, WARM_LOOKUPS = 2, 20


@dataclasses.dataclass(frozen=True)
class Spec:
    name: str
    seconds: int
    n_convs: int
    n_segments: int
    seg_events: int
    n_buckets: int
    n_scans: int
    n_lookups: int
    dst_ns: str = "chat.transcripts"
    ns_extra: tuple = ()
    include_colls: frozenset = frozenset()
    db_mapping: tuple = ()
    write_mode: str = "cow"
    compact_threshold: int = 16
    expire_every: int = 32
    keep_versions: int = 8
    #: open loop only: seconds between scheduled segment publishes
    period_s: float = 0.0

    @property
    def n_events(self) -> int:
        return self.n_segments * self.seg_events

    def sync_config(self, dst: str, cplog: str):
        from py_mongo_sync_spark.config import SyncConfig

        return SyncConfig(
            dst_path=dst, checkpoint_path=cplog, n_buckets=self.n_buckets,
            include_colls=self.include_colls, db_mapping=dict(self.db_mapping),
            write_mode=self.write_mode, compact_threshold=self.compact_threshold,
            expire_every=self.expire_every, keep_versions=self.keep_versions,
        )


#: Tail publish period and the stream's processing-time trigger. The
#: period is not a whole number of trigger intervals, so segments land at
#: every phase of the trigger clock; the short interval keeps that phase
#: a small part of the lag.
TAIL_PERIOD_S = 3.7
TAIL_TRIGGER = "250 milliseconds"


def spec_for(workload: str, seconds: int) -> Spec:
    """Workload sizes, derived from ``--seconds`` only (never from a
    timing), so one seed always yields one input."""
    if workload == "search":
        # Three medium segments: an odd count keeps the per-event median
        # inside the middle batch instead of on a batch boundary.
        return Spec(
            name="search", seconds=seconds, n_convs=2000, n_segments=3,
            seg_events=1000 * seconds, n_buckets=16, n_scans=5, n_lookups=40,
            dst_ns="search.transcripts",
            ns_extra=(("chat.notes", 20), ("logs.audit", 10)),
            include_colls=frozenset({"chat.transcripts", "chat.notes"}),
            db_mapping=(("chat", "search"),),
            expire_every=3, keep_versions=2,
        )
    if workload == "tail":
        # compact_threshold=3 compacts every bucket together on batches
        # 2, 5, ...; a multiple of three segments ends the run on that
        # compaction and a third of the batches compact, so neither the
        # median nor the high lag sits on the plain/compacting boundary.
        n = 3 * max(1, round(seconds / (3 * TAIL_PERIOD_S)))
        return Spec(
            name="tail", seconds=seconds, n_convs=1000, n_segments=n,
            seg_events=2500, n_buckets=4, n_scans=5, n_lookups=40,
            write_mode="mor", compact_threshold=3, expire_every=2,
            keep_versions=2, period_s=TAIL_PERIOD_S,
        )
    raise ValueError(f"unknown workload {workload!r}")


# ------------------------------------------------------------------ inputs


def _sample_lookups(spec: Spec, seed: int, snap_pdf, oracle_pdf) -> list[list]:
    """Keys for the lookup phase: two hot keys, a fifth deleted keys, the
    rest live keys, in a seed-shuffled order."""
    rng = random.Random(f"{spec.name}-{seed}")
    live = sorted(zip(oracle_pdf["conv_id"], oracle_pdf["turn_idx"].astype(int)))
    live_set = set(live)
    deleted = sorted(
        k for k in zip(snap_pdf["conv_id"], snap_pdf["turn_idx"].astype(int))
        if k not in live_set
    )
    hot = [(c, t) for c, t in live if c == "conv_000000"]
    picks: list[tuple] = []
    picks += [(*k, "hot") for k in rng.sample(hot, min(2, len(hot)))]
    picks += [(*k, "deleted") for k in rng.sample(deleted, min(spec.n_lookups // 5, len(deleted)))]
    chosen = {(c, t) for c, t, _ in picks}
    pool = [k for k in live if k not in chosen]
    picks += [(*k, "live") for k in rng.sample(pool, spec.n_lookups - len(picks))]
    rng.shuffle(picks)
    return [[c, int(t), kind] for c, t, kind in picks]


def ensure_inputs(spark, spec: Spec, seed: int, cache_root: str) -> dict:
    """Generate (or reuse) the seed's inputs under ``cache_root``:
    ``snapshot/`` (Spark parquet), ``segments/seg-NNNN.parquet`` in optime
    order, ``warm/`` (a tiny segment for the set-up apply),
    ``oracle.parquet`` and ``meta.json``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from py_mongo_sync_spark.sources.generate import (
        gen_oplog_events,
        gen_transcripts_snapshot,
        oracle_replay,
    )

    shape = hashlib.sha1(f"{INPUT_VERSION} {spec!r}".encode()).hexdigest()[:12]
    key = f"{spec.name}-s{seed}-{shape}"
    final = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(final, "meta.json")):
        with open(os.path.join(final, "meta.json")) as f:
            return dict(json.load(f), dir=final)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "segments"))
    os.makedirs(os.path.join(tmp, "warm"))

    snap_dir = os.path.join(tmp, "snapshot")
    gen_transcripts_snapshot(
        spark, spec.n_convs, TURNS, seed=seed, with_tool=True, with_score=True
    ).write.parquet(snap_dir)
    snap_pdf = spark.read.parquet(snap_dir).toPandas()
    ev_pdf = (
        gen_oplog_events(
            spark, spec.n_convs, TURNS, spec.n_events, seed=seed,
            hot_frac=HOT_FRAC, ns_extra=list(spec.ns_extra) or None,
        )
        .toPandas()
        .sort_values(["ts", "seq"])
        .reset_index(drop=True)
    )
    schema = pa.schema([
        ("ts", pa.int64()), ("seq", pa.int64()), ("op", pa.string()),
        ("ns", pa.string()), ("doc", pa.string()),
    ])

    def write_seg(pdf, path):
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path)

    seg_bytes = []
    for i in range(spec.n_segments):
        path = os.path.join(tmp, "segments", f"seg-{i:04d}.parquet")
        write_seg(ev_pdf.iloc[i * spec.seg_events:(i + 1) * spec.seg_events], path)
        seg_bytes.append(os.path.getsize(path))
    write_seg(ev_pdf.iloc[:500], os.path.join(tmp, "warm", "seg-0000.parquet"))

    oracle = oracle_replay(snap_pdf, ev_pdf, spec.sync_config("", ""), dst_ns=spec.dst_ns)
    oracle.to_parquet(os.path.join(tmp, "oracle.parquet"), index=False)
    spark.createDataFrame(oracle).write.parquet(os.path.join(tmp, "oracle_spark"))
    meta = {
        "workload": spec.name, "seed": seed, "seconds": spec.seconds,
        "seg_events": [spec.seg_events] * spec.n_segments,
        "seg_bytes": seg_bytes, "snapshot_rows": len(snap_pdf),
        "oracle_rows": len(oracle),
        "lookups": _sample_lookups(spec, seed, snap_pdf, oracle),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    _prune_cache(cache_root, keep=48)
    return dict(meta, dir=final)


def _prune_cache(cache_root: str, keep: int) -> None:
    entries = sorted(
        (os.path.getmtime(os.path.join(cache_root, d)), d)
        for d in os.listdir(cache_root)
        if os.path.exists(os.path.join(cache_root, d, "meta.json"))
    )
    for _, d in entries[:-keep]:
        shutil.rmtree(os.path.join(cache_root, d), ignore_errors=True)


# --------------------------------------------------------------- pipelines


def make_pipeline(spark, spec: Spec, dst: str, cplog: str):
    """The workload's pipeline plus its destination handle: the lake
    table for ``tail``, the search sink for ``search``."""
    cfg = spec.sync_config(dst, cplog)
    if spec.name == "search":
        from py_mongo_sync_spark.sinks import SearchSyncPipeline

        pipe = SearchSyncPipeline(spark, cfg, dst_ns=spec.dst_ns)
        return pipe, pipe.sink
    from py_mongo_sync_spark.streaming.pipeline import CdcPipeline

    pipe = CdcPipeline(spark, cfg, dst_ns=spec.dst_ns)
    return pipe, pipe.table


def prepare_destination(spark, spec: Spec, inputs: dict, work: str):
    """The set-up a user pays before the first batch: Python UDF workers
    started, and a pipeline whose (throwaway) destination holds a slice
    of the snapshot."""
    from pyspark.sql import functions as F

    from py_mongo_sync_spark.functions.parse import make_parse_udf

    udf = make_parse_udf(True)
    spark.range(spark.sparkContext.defaultParallelism * 4).select(
        udf(F.lit('{"conv_id":"w","turn_idx":0}')).alias("p")
    ).write.format("noop").mode("overwrite").save()
    pipe, _ = make_pipeline(
        spark, spec, os.path.join(work, "dst"), os.path.join(work, "cplog")
    )
    pipe.initial_sync(
        spark.read.parquet(os.path.join(inputs["dir"], "snapshot")).limit(400)
    )
    return pipe


def warm_apply(spark, pipe, inputs: dict, work: str) -> None:
    """One streamed apply of a small segment on the throwaway destination,
    so JIT, codegen and the foreachBatch callback path are warm before
    the apply phase. (The read path warms up on the final destination,
    in :func:`read_phase`.)"""
    pipe.run_stream(_stream(spark, os.path.join(inputs["dir"], "warm")),
                    os.path.join(work, "spark_cp"))


# ------------------------------------------------------------- apply phase


def _walk_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(d, fn)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass  # removed by expiry between listing and stat
    return out


class BatchRecorder:
    """Times every ``apply_batch`` from the outside and notes the files
    each batch leaves in the destination (the write-amplification
    numerator). With a tracer, each call is also the root span of its
    batch."""

    def __init__(self, pipe, dst_root: str, tracer=None, clock=time.monotonic):
        self.dst_root = dst_root
        self.tracer = tracer
        self.clock = clock
        self.batches: list[dict] = []
        self.errors: list[str] = []
        self.seen = _walk_files(dst_root)
        self.new_files: dict[str, int] = {}
        self.done = threading.Condition()
        self._orig = pipe.apply_batch
        pipe.apply_batch = self._apply

    def _apply(self, df, batch_id):
        t0 = self.clock()
        try:
            if self.tracer is not None:
                res = self.tracer.call(
                    "streaming.apply_batch", self._orig, df, batch_id, batch=batch_id
                )
            else:
                res = self._orig(df, batch_id)
        except Exception:
            self.errors.append(traceback.format_exc())
            with self.done:
                self.batches.append({"batch": batch_id, "start": t0,
                                     "commit": self.clock(), "ok": False})
                self.done.notify_all()
            raise
        t1 = self.clock()
        for p, size in _walk_files(self.dst_root).items():
            if p not in self.seen:
                self.seen[p] = size
                self.new_files[p] = size
        with self.done:
            self.batches.append({
                "batch": batch_id, "start": t0, "commit": t1,
                "ok": not res.get("skipped", False),
                "changed_buckets": res.get("changed_buckets"),
                "compacted": bool(res.get("compacted")),
                "expired": "expired_files" in res,
            })
            self.done.notify_all()
        return res

    def wait_for(self, n: int, timeout: float, query) -> bool:
        deadline = self.clock() + timeout
        with self.done:
            while len(self.batches) < n:
                left = deadline - self.clock()
                if left <= 0 or not query.isActive:
                    return False
                self.done.wait(min(left, 0.5))
        return True


def _stream(spark, stream_dir: str):
    from py_mongo_sync_spark.sources.oplog import read_oplog_stream

    return read_oplog_stream(spark, stream_dir, max_files_per_trigger=1, fmt="parquet")


def _stamp(path: str, t: float) -> None:
    os.utime(path, (t, t))


def run_backlog(spark, spec: Spec, pipe, rec: BatchRecorder, inputs: dict, run_dir: str) -> dict:
    """Every segment is in place before the stream starts; the query
    drains them (``available_now``) and stops."""
    stream_dir = os.path.join(run_dir, "stream")
    os.makedirs(stream_dir)
    base = time.time() - 10 * spec.n_segments
    for i in range(spec.n_segments):
        dst = os.path.join(stream_dir, f"seg-{i:04d}.parquet")
        shutil.copyfile(os.path.join(inputs["dir"], "segments", f"seg-{i:04d}.parquet"), dst)
        _stamp(dst, base + i)
    t0 = rec.clock()
    try:
        q = pipe.run_stream(_stream(spark, stream_dir), os.path.join(run_dir, "spark_cp"))
    except Exception:  # a failed batch ends the query; the run counts it
        rec.errors.append(traceback.format_exc())
        q = None
    lags = measure.backlog_lags(
        t0, [b["commit"] for b in rec.batches], inputs["seg_events"][: len(rec.batches)]
    )
    return {"query": q, "lags": lags, "gen_late_s": 0.0,
            "backlog_max": spec.n_segments}


def run_open_loop(spark, spec: Spec, pipe, rec: BatchRecorder, inputs: dict, run_dir: str) -> dict:
    """A generator thread publishes segment ``i`` at ``t_base + i·period``
    by atomic rename into the watched directory while the stream runs on
    its processing-time trigger; the generator never waits for the
    engine."""
    stream_dir = os.path.join(run_dir, "stream")
    staging = os.path.join(run_dir, "staging")
    os.makedirs(stream_dir)
    os.makedirs(staging)
    n = spec.n_segments
    for i in range(n):
        shutil.copyfile(os.path.join(inputs["dir"], "segments", f"seg-{i:04d}.parquet"),
                        os.path.join(staging, f"seg-{i:04d}.parquet"))
    q = pipe.run_stream(
        _stream(spark, stream_dir), os.path.join(run_dir, "spark_cp"),
        available_now=False, processing_time=TAIL_TRIGGER,
    )
    t_base = rec.clock() + 1.0
    due = [t_base + i * spec.period_s for i in range(n)]
    published: list[float] = []

    def generate():
        for i in range(n):
            delay = due[i] - rec.clock()
            if delay > 0:
                time.sleep(delay)
            src = os.path.join(staging, f"seg-{i:04d}.parquet")
            # the file source delivers by modification time
            _stamp(src, time.time())
            os.replace(src, os.path.join(stream_dir, f"seg-{i:04d}.parquet"))
            published.append(rec.clock())

    gen = threading.Thread(target=generate, name="cdcbench-generator", daemon=True)
    gen.start()
    gen.join(timeout=n * spec.period_s + 30)
    complete = rec.wait_for(n, timeout=60.0, query=q)
    q.stop()
    if not complete or len(published) != n:  # counted as failed batches
        return {"query": q, "lags": [], "gen_late_s": 0.0, "backlog_max": n}
    acct = measure.open_loop_accounting(
        due, published, [b["start"] for b in rec.batches[:n]],
        [b["commit"] for b in rec.batches[:n]], inputs["seg_events"],
    )
    return dict(acct, query=q)


def source_log(spark_cp: str) -> dict[int, list[str]]:
    """Batch id → file names, from the file source's metadata log in the
    streaming checkpoint (lines of JSON after a version header)."""
    root = os.path.join(spark_cp, "sources", "0")
    out: dict[int, list[str]] = {}
    if not os.path.isdir(root):
        return out
    for fn in os.listdir(root):
        if fn.startswith(".") or fn.endswith(".tmp"):
            continue
        with open(os.path.join(root, fn)) as f:
            for line in f.read().splitlines()[1:]:
                if not line.strip():
                    continue
                entry = json.loads(line)
                out.setdefault(int(entry["batchId"]), []).append(
                    os.path.basename(entry["path"])
                )
    return {k: sorted(v) for k, v in out.items()}


# -------------------------------------------------------------- read phase


def key_buckets(spark, keys: list[list], n_buckets: int) -> list[int]:
    """Bucket of each lookup key, by the engine's bucket expression."""
    from pyspark.sql import functions as F

    from py_mongo_sync_spark.plans.lake import bucket_expr
    from py_mongo_sync_spark.schema import KEY_COLS

    rows = [(i, c, int(t)) for i, (c, t, _k) in enumerate(keys)]
    df = spark.createDataFrame(rows, "i int, conv_id string, turn_idx int")
    got = df.select("i", bucket_expr(KEY_COLS, n_buckets).alias("b")).collect()
    by_i = {r["i"]: r["b"] for r in got}
    return [by_i[i] for i in range(len(keys))]


def _same(a, b) -> bool:
    import math

    import pandas as pd

    if a is None or (isinstance(a, float) and math.isnan(a)):
        return b is None or (isinstance(b, float) and math.isnan(b))
    if b is None or (isinstance(b, float) and math.isnan(b)):
        return False
    if isinstance(a, (pd.Timestamp,)) or hasattr(a, "year"):
        return pd.Timestamp(a) == pd.Timestamp(b)
    return a == b


def lookup_matches(rows: list, expected: dict | None) -> bool:
    """A lookup is right when it returns no row for a key the oracle does
    not hold, and exactly the oracle's row otherwise."""
    if expected is None:
        return not rows
    if len(rows) != 1:
        return False
    got = rows[0].asDict()
    return all(_same(got.get(c), expected.get(c)) for c in COMPARE_COLS)


def read_phase(spark, spec: Spec, dest, inputs: dict, oracle_pdf, clock=time.monotonic) -> dict:
    """Full scans, then key lookups, with no apply running. Untimed
    repeats of each come first."""
    from pyspark.sql import functions as F

    def scan():
        dest.read().write.format("noop").mode("overwrite").save()

    def lookup(conv, turn, bucket):
        return dest.read(buckets=[bucket]).where(
            (F.col("conv_id") == conv) & (F.col("turn_idx") == turn)
        ).collect()

    keys = inputs["lookups"]
    buckets = key_buckets(spark, keys, spec.n_buckets)
    try:
        for _ in range(WARM_SCANS):
            scan()
        for (conv, turn, _kind), b in list(zip(keys, buckets))[:WARM_LOOKUPS]:
            lookup(conv, turn, b)
    except Exception:  # the timed repeats below record the failure
        traceback.print_exc()

    scans, failed = [], 0
    for _ in range(spec.n_scans):
        t0 = clock()
        try:
            scan()
            scans.append(clock() - t0)
        except Exception:
            traceback.print_exc()
            failed += 1
    expected = {
        (r["conv_id"], int(r["turn_idx"])): r
        for r in oracle_pdf.to_dict("records")
    }
    lookups, wrong = [], []
    for (conv, turn, kind), b in zip(keys, buckets):
        t0 = clock()
        try:
            rows = lookup(conv, turn, b)
        except Exception:
            traceback.print_exc()
            failed += 1
            continue
        lookups.append(clock() - t0)
        if not lookup_matches(rows, expected.get((conv, turn))):
            wrong.append([conv, turn, kind])
    return {"scans": scans, "lookups": lookups, "wrong_lookups": wrong,
            "failed": failed + len(wrong)}


def final_check(spark, dest, inputs: dict) -> dict:
    """``check_consistency`` of the whole destination against the
    oracle's final state."""
    from py_mongo_sync_spark.check import check_consistency
    from py_mongo_sync_spark.schema import KEY_COLS

    expected = spark.read.parquet(os.path.join(inputs["dir"], "oracle_spark"))
    # the comparison scans the destination four times: resolve it once
    actual = dest.read().cache()
    try:
        cols = [c for c in COMPARE_COLS if c in actual.columns and c in expected.columns]
        rep = check_consistency(expected, actual, KEY_COLS, cols)
    finally:
        actual.unpersist()
    rep["compared_cols"] = cols
    return rep
