#!/usr/bin/env python3
"""CDC benchmark entry point.

    python3 cdcbench/run.py --workload tail --seed 1 --seconds 10 --trace 0

Runs one workload (``search`` or ``tail``, see README.md) through the
engine's public API from the root of a checkout, checks the destination
against the sequential oracle, prints every metric with its unit and ends
with one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
layers' public calls in spans and reports the per-layer metrics, writing
the spans to ``.cdcbench/trace/``. Everything the run writes stays under
``.cdcbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".cdcbench")
ENGINE = "py_mongo_sync_spark"

#: Set-ups and snapshot loads per run; ``setup_s`` and ``snapshot_s`` are
#: their medians.
SETUP_REPEATS = 3
SNAPSHOT_REPEATS = 5

END_TO_END = {
    "setup_s": "s", "snapshot_s": "s", "apply_events_per_s": "1/s",
    "batch_wall_p50_s": "s", "lag_p50_s": "s", "lag_high_s": "s",
    "scan_s": "s", "lookup_p50_s": "s", "lookup_high_s": "s",
    "write_amp": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate_environment() -> None:
    """Keep every file the run, Spark and its Python workers write inside
    ``.cdcbench/`` of the checkout, and make the engine importable by the
    executors' Python workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # every JVM started here (the launcher too): temp files into the
    # checkout, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)


class Session:
    """The run's SparkSession: started (and restarted) through the
    engine's ``get_spark`` with every core this process may use, and shut
    down together with its JVM at the end."""

    def __init__(self):
        self.spark = None
        self.cores = len(os.sched_getaffinity(0))
        self.conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.sql.warehouse.dir": os.path.join(WORK, "tmp", "warehouse"),
        }

    def start(self):
        from py_mongo_sync_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            "cdcbench", cores=self.cores, shuffle_partitions=self.cores,
            extra_conf=self.conf,
        )
        return self.spark

    def quiesce(self) -> None:
        """Collect garbage in both processes and give Spark's cleaner a
        moment, so the next timed phase does not pay for the last one."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)

    def jvm_rss_peak_mb(self) -> float:
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if proc is None:
            return 0.0
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None


def timed(fn):
    t0 = time.monotonic()
    out = fn()
    return out, time.monotonic() - t0


def set_up(args, spec, session, run_dir) -> dict:
    """Several set-ups, each a session (re)start plus UDF workers plus a
    throwaway destination; the first also launches the JVM. Input
    generation (cached per seed) runs after the first session start and
    is not timed. One untimed streamed apply then warms the apply path."""
    import workloads

    starts, preps, inputs, warm_pipe = [], [], None, None
    for k in range(SETUP_REPEATS):
        spark, t_start = timed(session.start)
        if inputs is None:
            inputs = workloads.ensure_inputs(
                spark, spec, args.seed, os.path.join(WORK, "cache")
            )
        warm_dir = os.path.join(run_dir, f"warm{k}")
        warm_pipe, t_prep = timed(
            lambda: workloads.prepare_destination(spark, spec, inputs, warm_dir))
        starts.append(t_start)
        preps.append(t_prep)
    _, warm_s = timed(
        lambda: workloads.warm_apply(session.spark, warm_pipe, inputs, warm_dir))
    return {"inputs": inputs, "starts": starts,
            "setups": [s + p for s, p in zip(starts, preps)], "warm_s": warm_s}


def load_snapshot(spark, spec, pipe, inputs, run_dir) -> list[float]:
    """Load the snapshot ``SNAPSHOT_REPEATS`` times, the run's own
    destination last."""
    import workloads

    snap = spark.read.parquet(os.path.join(inputs["dir"], "snapshot"))
    loads = []
    for k in range(SNAPSHOT_REPEATS):
        target = pipe if k == SNAPSHOT_REPEATS - 1 else workloads.make_pipeline(
            spark, spec, os.path.join(run_dir, f"snap{k}"),
            os.path.join(run_dir, f"snapcp{k}"))[0]
        loads.append(timed(lambda: target.initial_sync(snap))[1])
    return loads


def stream_input_ok(spark, spec, inputs, run_dir) -> bool:
    """Batch ``i`` consumed exactly segment ``i`` (per the file source's
    log), and those files hold exactly the generated events."""
    import workloads

    consumed = workloads.source_log(os.path.join(run_dir, "spark_cp"))
    names = [f"seg-{i:04d}.parquet" for i in range(spec.n_segments)]
    if [consumed.get(i) for i in range(len(consumed))] != [[n] for n in names]:
        return False
    paths = [os.path.join(run_dir, "stream", n) for n in names]
    return spark.read.parquet(*paths).count() == sum(inputs["seg_events"])


def run_workload(args, spec, session, run_dir) -> dict:
    import pandas as pd

    import layers
    import measure
    import workloads

    tracer = measure.Tracer() if args.trace else None
    phase_t0, phases = time.monotonic(), {}

    def phase(name):
        nonlocal phase_t0
        now = time.monotonic()
        phases[name] = now - phase_t0
        phase_t0 = now

    setup = set_up(args, spec, session, run_dir)
    inputs, spark = setup["inputs"], session.spark
    phase("setup")

    dst = os.path.join(run_dir, "dst")
    pipe, dest = workloads.make_pipeline(spark, spec, dst, os.path.join(run_dir, "cplog"))
    if tracer is not None:
        layers.install_spans(tracer, spec, pipe, dest)
    loads = load_snapshot(spark, spec, pipe, inputs, run_dir)
    session.quiesce()
    phase("snapshot")

    rec = workloads.BatchRecorder(pipe, dst, tracer)
    runner = workloads.run_open_loop if spec.period_s else workloads.run_backlog
    applied = runner(spark, spec, pipe, rec, inputs, run_dir)
    for e in rec.errors:
        print(e, file=sys.stderr)
    batches = rec.batches
    phase("apply")

    stream_ok = stream_input_ok(spark, spec, inputs, run_dir)
    replays = []
    if tracer is not None and stream_ok:
        replays = layers.replay_batches(
            spark, spec, pipe, tracer,
            [os.path.join(run_dir, "stream", f"seg-{i:04d}.parquet")
             for i in range(spec.n_segments)],
        )
    delta_files = 0
    if spec.write_mode == "mor":
        delta_files = sum(len(v) for v in dest.manifest().get("deltas", {}).values())
    session.quiesce()
    phase("replay")

    oracle_pdf = pd.read_parquet(os.path.join(inputs["dir"], "oracle.parquet"))
    reads = workloads.read_phase(spark, spec, dest, inputs, oracle_pdf)
    phase("reads")
    try:
        check = workloads.final_check(spark, dest, inputs)
    except Exception as e:  # counted as a failed operation below
        check = {"ok": False, "error": repr(e)}
    phase("check")

    walls = [b["commit"] - b["start"] for b in batches]

    def summary(samples):
        return measure.summarize(samples) if measure.high_percentile(len(samples)) else None

    lag, lookup = summary(applied["lags"]), summary(reads["lookups"])
    e2e = {
        "setup_s": measure.median(setup["setups"]),
        "snapshot_s": measure.median(loads),
        "apply_events_per_s": (
            sum(inputs["seg_events"][: len(walls)]) / sum(walls) if walls else 0.0),
        "batch_wall_p50_s": measure.median(walls) if walls else 0.0,
        "lag_p50_s": lag["p50"] if lag else 0.0,
        "lag_high_s": lag["high"] if lag else 0.0,
        "scan_s": measure.median(reads["scans"]) if reads["scans"] else 0.0,
        "lookup_p50_s": lookup["p50"] if lookup else 0.0,
        "lookup_high_s": lookup["high"] if lookup else 0.0,
        "write_amp": sum(rec.new_files.values()) / sum(inputs["seg_bytes"]),
    }
    failed_batches = (sum(1 for b in batches if not b["ok"])
                      + max(0, spec.n_segments - len(batches)))
    failed = failed_batches + reads["failed"] + (not check.get("ok")) + (not stream_ok)
    details = {
        "workload": spec.name, "seed": args.seed, "seconds": args.seconds,
        "cores": session.cores, "events": spec.n_events, "segments": spec.n_segments,
        "phases_s": phases, "setups_s": setup["setups"], "batch_walls_s": walls,
        "compacting_batches": [b["batch"] for b in batches if b.get("compacted")],
        "expiring_batches": [b["batch"] for b in batches if b.get("expired")],
        "lag": lag and {k: lag[k] for k in ("high_pct", "n")},
        "lookup": lookup and {k: lookup[k] for k in ("high_pct", "n")},
        "wrong_lookups": reads["wrong_lookups"],
        "gen_late_s": applied["gen_late_s"], "backlog_max": applied["backlog_max"],
        "stream_input_ok": stream_ok, "check": check,
        "scans_s": reads["scans"], "lookups_s": reads["lookups"],
    }
    result = {
        "correct": failed == 0, "failed": failed,
        "attempted": spec.n_segments + spec.n_scans + spec.n_lookups + 2,
        "e2e": e2e, "details": details,
    }
    if tracer is not None:
        query = applied["query"]
        progress = [
            dict(p.durationMs, batchId=p.batchId)
            for p in (query.recentProgress if query is not None else [])
            if p.batchId in {b["batch"] for b in batches} and p.durationMs
        ]
        result["layers"] = layers.layer_metrics(
            tracer, spec, setup, applied, rec, progress, replays, delta_files,
            session.jvm_rss_peak_mb(),
        )
        result["self_times"] = tracer.self_times_by_name()
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        trace_path = os.path.join(WORK, "trace", f"{spec.name}-s{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"spans": tracer.spans, "progress": progress,
                       "replays": replays, "batches": batches}, f)
        result["trace_path"] = os.path.relpath(trace_path, ROOT)
    return result


def print_result(result: dict, args) -> None:
    from layers import PER_LAYER

    d = result["details"]
    print(f"cdcbench {d['workload']} seed={d['seed']} seconds={d['seconds']} "
          f"cores={d['cores']} events={d['events']} segments={d['segments']}")
    print("  phases (s): " + ", ".join(f"{k}={v:.1f}" for k, v in d["phases_s"].items()))
    print(f"  batches: walls_s={[round(w, 3) for w in d['batch_walls_s']]} "
          f"compacting={d['compacting_batches']} expiring={d['expiring_batches']} "
          f"backlog_max={d['backlog_max']}")
    if d["lag"]:
        print(f"  lag_high is p{d['lag']['high_pct']:g} of {d['lag']['n']} events")
    if d["lookup"]:
        print(f"  lookup_high is p{d['lookup']['high_pct']:g} of {d['lookup']['n']} lookups")
    print(f"  reads: scans_s={[round(x, 4) for x in d['scans_s']]} "
          f"lookups_s={[round(x, 4) for x in d['lookups_s']]}")
    print(f"  oracle check: {json.dumps(d['check'])}")
    print(f"  stream input matches segments: {d['stream_input_ok']}; "
          f"wrong lookups: {d['wrong_lookups']}")
    last_path = os.path.join(
        WORK, "last", f"{d['workload']}-s{d['seed']}-t{d['seconds']}.json")
    if args.trace:
        print("  self/total seconds per span: " + ", ".join(
            f"{k}={v['self_s']:.3f}/{v['total_s']:.3f} x{v['calls']}"
            for k, v in sorted(result["self_times"].items())))
        print(f"  spans written to {result['trace_path']}")
        if os.path.exists(last_path):
            with open(last_path) as f:
                base = json.load(f)
            print("  tracing overhead (traced - untraced): " + ", ".join(
                f"{k}={result['e2e'][k] - base[k]:+.4g}" for k in END_TO_END))
        else:
            print("  tracing overhead: no untraced run of this seed to compare")
        chosen, units = result["layers"], PER_LAYER
    else:
        os.makedirs(os.path.dirname(last_path), exist_ok=True)
        with open(last_path, "w") as f:
            json.dump(result["e2e"], f)
        chosen, units = result["e2e"], END_TO_END
    for name, unit in units.items():
        print(f"  {name} = {chosen[name]:.6g} {unit}")
    print(json.dumps({
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": float(chosen[k]), "unit": u} for k, u in units.items()},
    }))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"cdcbench: engine package {ENGINE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    isolate_environment()
    import workloads

    try:
        spec = workloads.spec_for(args.workload, args.seconds)
    except ValueError as e:
        print(f"cdcbench: {e}", file=sys.stderr)
        return 2
    # one run at a time: whatever a killed run left behind goes first
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    run_dir = os.path.join(WORK, "run", spec.name)
    os.makedirs(run_dir)
    session = Session()
    try:
        result = run_workload(args, spec, session, run_dir)
    finally:
        session.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print_result(result, args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
