"""Layered benchmark of cuckoo_filter_spark on the machine it runs on.

Usage, from the root of the repository::

    python3 perfbench/run.py --workload build-shuffle --seed 1 --seconds 5 --trace 0

Workloads (BENCHMARK.json says why the first two were chosen):

* ``build-shuffle``    ShardedCuckooFilter.build from parquet
* ``probe-broadcast``  contains_broadcast of every key plus as many negatives
* ``delete-routed``    delete(per_key=False) of every key + delete_success_count;
  run by hand, it is not in BENCHMARK.json (see its class)

The session is ``local[<cpus>]`` with driver memory taken from
MemAvailable. Inputs are made from ``--seed`` and written to parquet in
a per-run directory under ``.perfbench/`` in the working directory,
removed at exit; ``.perfbench/`` keeps the last untraced result of each
workload and the spans of the last traced run. With ``--trace 0`` the
run prints the end-to-end metrics; with ``--trace 1`` it enables
Spark's event log and prints the per-layer metrics (see
``perfbench/layers.py``). The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed``, ``metrics``.
``--size smoke`` runs a tiny filter for the benchmark's own test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    return p.parse_args(argv)


def end_to_end(w, setup_s: float, peak_rss: int) -> dict:
    r = w.run
    p50 = statistics.median(r.times)
    return {
        "op_s_p50": (p50, "s"),
        "keys_per_s": (r.keys_per_call / p50, "keys/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss / (1 << 20), "MB"),
        "fpr": (r.fpr, "ratio"),
        "bits_per_key": (r.bits_per_key, "bits/key"),
    }


def stop_session(spark) -> None:
    """Stop the context, then the JVM behind it, and wait until the
    JVM and every process it started (the pyspark daemon and its
    workers) have exited."""
    from perfbench.box import process_tree

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    procs = process_tree(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


def main(argv=None) -> int:
    args = parse(argv)
    # a terminated run still stops its session and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import cuckoo_filter_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    from perfbench import box, inputs, layers, workloads

    box.become_subreaper()

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    size = workloads.SMOKE if args.size == "smoke" else workloads.FULL
    state = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    tally = workloads.Tally()
    spark = None
    try:
        steal0 = box.steal_seconds()
        with box.PeakRss() as rss:
            t0 = time.perf_counter()
            job = inputs.KeyJob(args.seed, size.keys,
                                (1 + workloads.EXTRA_NEGATIVES) * size.keys,
                                max(1, box.cpus() // 2), os.path.join(work, "keys"))
            try:
                spark = box.start_session(ROOT, work, event_dir)
                t_session = time.perf_counter() - t0
                keys = job.result()
            finally:
                job.close()
            ins = workloads.Inputs(work, keys, size, files=box.cpus())
            t_inputs = time.perf_counter() - t0
            w = workloads.WORKLOADS[args.workload](spark, ins, size, tally)
            tracer = layers.Tracer(spark, w) if args.trace else None
            (tracer or w).prepare()
            setup_s = time.perf_counter() - t0
            rss.phase("setup")
            (tracer or w).loop(args.seconds)
            t_loop = time.perf_counter()
            rss.phase("loop")
            w.finish()
            t_finish = time.perf_counter()
            rss.phase("checks")
            if tracer:
                tracer.probe_layers()
        t_layers = time.perf_counter()
        stop_session(spark)
        spark = None
        t_end = time.perf_counter()
        info = {
            "workload": args.workload, "seed": args.seed, "box": box.describe(),
            "keys": size.keys, "slots": 1 << size.log2_slots, "shards": size.shards,
            "setup_phases_s": {"session": t_session, "inputs": t_inputs,
                               "total": setup_s},
            "phases_s": {"loop": t_loop - t0 - setup_s, "checks": t_finish - t_loop,
                         "layers": t_layers - t_finish, "stop": t_end - t_layers,
                         "run": t_end - t0},
            "warmup_calls": w.warmup_calls, "warmup_s": w.run.warmup_s,
            "timed_calls": len(w.run.times), "call_s": w.run.times,
            "cpu_steal_s": box.steal_seconds() - steal0,
            "peak_rss_mb_by_phase": {k: v / (1 << 20) for k, v in rss.phases.items()},
            "failed_ratio": tally.failed / max(tally.attempted, 1),
            "failed_checks": tally.failed_checks,
        }
        metrics = end_to_end(w, setup_s, rss.peak)
        last = os.path.join(state, f"last-untraced-{args.workload}-{args.size}.json")
        if tracer:
            metrics = tracer.report(event_dir, metrics["op_s_p50"][0], last)
        else:
            with open(last, "w") as f:
                json.dump({"seed": args.seed, "time": time.time(),
                           **{k: v[0] for k, v in metrics.items()}}, f)
        print("info " + json.dumps(info))
        print(json.dumps({
            "correct": not tally.failed_checks and tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }), flush=True)
        return 0
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            box.stop_descendants()
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
