"""The traced run: per-layer metrics, measured from outside the package.

Spans are recorded in memory by this file around calls into the
package's public functions and written out at the end:

* one root span per timed op call, with the Spark jobs, stages and
  tasks of that call as children, taken from the event log through the
  call's job group;
* sibling root spans for the cumulative prefix pipelines of the lane
  the workload runs: scan, +pack, +Exchange, +identity Arrow hop. Each
  prefix ends in a ``noop`` write, so every row is produced and
  discarded. Pack and Exchange are not part of the broadcast lane, so
  there they equal the scan.

Layer times are differences of prefix medians; the part of the op
past the Arrow-hop prefix is placement and serialisation (probing, in
the broadcast lane, where it is small enough that host noise can put
the identity-UDF prefix above the full op). The kernel metrics are
single-core driver calls on one shard's keys.

Which end-to-end metric each layer metric should move:

* ``sources.*``, ``hashing.jvm_pack_s``, ``membership.exchange_s`` and
  the shuffle metrics: ``op_s_p50`` of build-shuffle; not probe-broadcast,
  whose lane has no pack and no Exchange.
* ``membership.arrow_hop_s`` and ``membership.python_*``: ``op_s_p50`` of
  both workloads, most on build-shuffle. ``hashing.np_keys_per_s`` and
  ``cuckoo.contains_keys_per_s``: probe-broadcast.
* ``cuckoo.insert_*``, ``cuckoo.kicks_per_insert``, ``cuckoo.to_bytes_s``:
  build-shuffle. ``cuckoo.delete_keys_per_s`` and ``cuckoo.from_bytes_s``:
  the routed delete lane (the delete-routed workload, run by hand).
* ``membership.broadcast_stack_s`` and ``membership.blob_bytes``:
  ``setup_s`` and ``peak_rss_mb`` of probe-broadcast, and ``bits_per_key``.
* ``membership.python_boot_s``, ``python_init_s``, ``jobs_per_call``,
  ``spark.scheduler_delay_s`` and ``membership.microbatch_call_s``: the
  fixed cost of a call, which a stream of small probe calls pays.
* ``spark.executor_*``, ``spark.tasks``, ``spark.task_failures``:
  ``op_s_p50``; ``spark.jvm_gc_s`` and ``spark.spill_bytes``: ``peak_rss_mb``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import warnings
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from cuckoo_filter_spark.config import FP_SALT
from cuckoo_filter_spark.core.cuckoo import CuckooFilter
from cuckoo_filter_spark.hashing import (
    keys_to_unsigned, packed_expr, xxhash64_const_vseed, xxhash64_u64,
)
from cuckoo_filter_spark.operators.membership import (
    OVERPROVISION, ShardedCuckooFilter, shard_expr,
)
from cuckoo_filter_spark.sources.parquet_io import read_matched_splits

from perfbench.eventlog import EventLog, self_times
from perfbench.workloads import CFG, probe_counts

PREFIXES = ("scan", "+pack", "+Exchange", "+Arrow hop")
PREFIX_REPS = 3
KERNEL_REPS = 5


def median_time(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def kernel_metrics(keys: np.ndarray, size) -> dict:
    """Single-core driver calls of the numpy kernels on shard 0's keys
    (routed as the build routes them), and of the numpy probe re-hash
    on all keys."""
    u = keys_to_unsigned(keys)
    router = xxhash64_u64(u, seed=42)
    mine = u[router.view(np.int64) % size.shards == 0]
    cap = int(np.ceil(size.capacity / size.shards * OVERPROVISION))
    proto = CuckooFilter(cap, CFG)
    i1, _, fp = proto.candidates(mine)
    packed = (i1.astype(np.int64) << CFG.bits_per_tag) | fp.astype(np.int64)
    n = len(packed)

    filled = []

    def insert():
        flt = CuckooFilter(cap, CFG)
        flt.insert_packed(packed)
        filled.append(flt)

    t_ins = median_time(insert, KERNEL_REPS)
    flt = filled[-1]
    t_con = median_time(lambda: flt.contains_packed(packed), KERNEL_REPS)
    blob = flt.to_bytes()
    t_to = median_time(flt.to_bytes, KERNEL_REPS)
    t_from = median_time(lambda: CuckooFilter.from_bytes(blob), KERNEL_REPS)
    copies = [CuckooFilter.from_bytes(blob) for _ in range(KERNEL_REPS)]
    t_del = median_time(lambda: copies.pop().delete_packed(packed), KERNEL_REPS)
    t_hash = median_time(
        lambda: xxhash64_const_vseed(FP_SALT, xxhash64_u64(u, seed=42)), KERNEL_REPS
    )
    return {
        "hashing.np_keys_per_s": (len(u) / t_hash, "keys/s"),
        "cuckoo.insert_keys_per_s": (n / t_ins, "keys/s"),
        "cuckoo.kicks_per_insert": (flt.kicks / max(n, 1), "ratio"),
        "cuckoo.insert_failures": (flt.failures, "count"),
        "cuckoo.contains_keys_per_s": (n / t_con, "keys/s"),
        "cuckoo.delete_keys_per_s": (n / t_del, "keys/s"),
        "cuckoo.to_bytes_s": (t_to, "s"),
        "cuckoo.from_bytes_s": (t_from, "s"),
    }


class Tracer:
    """Runs a workload with job groups and spans, then the prefix
    pipelines and kernel calls, and reports per-layer metrics."""

    def __init__(self, spark, workload):
        self.spark, self.w = spark, workload
        self.sc = spark.sparkContext
        self.roots: list[dict] = []
        self.prefix: dict[str, list[float]] = {p: [] for p in PREFIXES}
        self.extra: dict = {}

    def _group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def _root(self, name: str, group: str, start: float, end: float) -> None:
        self.roots.append({"id": name, "parent": None, "level": "root",
                           "group": group, "start": start, "end": end})

    def prepare(self) -> None:
        self._group("setup")
        self.w.prepare()

    def loop(self, seconds: float) -> None:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always", RuntimeWarning)
            self.w.loop(
                seconds,
                before=lambda i: self._group(f"call-{i}"),
                on_call=lambda i, a, b: self._root(f"call-{i}", f"call-{i}", a, b),
            )
        self.fallbacks = sum("broadcast guard" in str(c.message) for c in caught)
        self._group("checks")

    # -- prefix pipelines ---------------------------------------------

    def _pipelines(self) -> dict:
        w, spark, size = self.w, self.spark, self.w.size
        if w.lane == "broadcast":
            path = w.ins.probes

            @F.pandas_udf(BooleanType())
            def no_probe(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
                for s in batches:
                    yield pd.Series(np.zeros(len(s), dtype=bool))

            def scan():
                return read_matched_splits(spark, path).select("key", "pos")

            def arrow():
                return scan().withColumn("member", no_probe(F.col("key")))

            return {"scan": scan, "+pack": None, "+Exchange": None, "+Arrow hop": arrow}

        nb = CFG.num_buckets_for(
            int(np.ceil(size.capacity / size.shards * OVERPROVISION))
        )
        f = CFG.bits_per_tag
        packed = packed_expr("key", nb, f, CFG.bucket_policy)
        shard = shard_expr("key", size.shards)

        def scan():
            return read_matched_splits(spark, w.ins.pos).select("key")

        if w.lane == "build":
            # the build ships (shard << shift) | (i1 << f) | fp in one long
            shift = f + (nb - 1).bit_length()

            def pack():
                return scan().select(F.shiftleft(shard, shift).bitwiseOR(packed).alias("p"))

            def exchange():
                return pack().repartition(size.shards, F.shiftrightunsigned("p", shift))
        else:
            # the routed delete ships key, packed and shard, hash
            # partitioned on the shard by the cogroup
            def pack():
                return scan().select("key", packed.alias("p"), shard.alias("s"))

            def exchange():
                return pack().repartition("s")

        def identity(batches):
            yield from batches

        def arrow():
            df = exchange()
            return df.mapInArrow(identity, df.schema)

        return {"scan": scan, "+pack": pack, "+Exchange": exchange, "+Arrow hop": arrow}

    def probe_layers(self) -> None:
        pipes = self._pipelines()
        self.absent = [p for p, f in pipes.items() if f is None]
        for r in range(PREFIX_REPS):
            for k, name in enumerate(PREFIXES):
                if pipes[name] is None:
                    # not in this lane: the same as the prefix before it
                    self.prefix[name].append(self.prefix[PREFIXES[k - 1]][-1])
                    continue
                group = f"prefix {name} {r}"
                self._group(group)
                w0, t0 = time.time(), time.perf_counter()
                pipes[name]().write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                self.prefix[name].append(dt)
                self._root(group, group, w0, w0 + dt)
        self._group("layers")
        flt = self.w.filt

        def stack():
            fresh = ShardedCuckooFilter(
                flt.shards, flt.num_shards, flt.config, flt.key_col,
                shard_num_buckets=flt.shard_num_buckets,
            )
            fresh.contains_broadcast(read_matched_splits(self.spark, self.w.ins.sample), "key")
            fresh.release()

        self.extra["membership.broadcast_stack_s"] = (median_time(stack, PREFIX_REPS), "s")
        self.extra["membership.blob_bytes"] = (flt.total_blob_bytes(), "B")
        micro = iter(self.w.ins.micro)
        self.extra["membership.microbatch_call_s"] = (median_time(
            lambda: probe_counts(flt, read_matched_splits(self.spark, next(micro))),
            len(self.w.ins.micro)), "s")
        keys = pq.read_table(self.w.ins.pos).column("key").to_numpy()
        self.extra.update(kernel_metrics(keys, self.w.size))

    # -- report ---------------------------------------------------------

    def report(self, event_dir: str, op_p50: float, last_untraced: str) -> dict:
        files = glob.glob(os.path.join(event_dir, "*"))
        log = EventLog.read(files[0])
        calls = [r for r in self.roots if r["group"].startswith("call-")]
        per_call = [log.group_metrics(r["group"]) for r in calls]

        def med(key):
            return statistics.median(m[key] for m in per_call)

        pre = {p: statistics.median(v) for p, v in self.prefix.items()}
        scan_tasks = statistics.median(
            log.group_metrics(f"prefix scan {r}")["tasks"] for r in range(PREFIX_REPS)
        )
        rows = sorted(self.w.run.shard_rows)
        out = {
            "sources.scan_s": (pre["scan"], "s"),
            "sources.scan_tasks": (scan_tasks, "count"),
            "hashing.jvm_pack_s": (pre["+pack"] - pre["scan"], "s"),
            "membership.exchange_s": (pre["+Exchange"] - pre["+pack"], "s"),
            "membership.arrow_hop_s": (pre["+Arrow hop"] - pre["+Exchange"], "s"),
            "membership.place_serialise_s": (op_p50 - pre["+Arrow hop"], "s"),
            "membership.shuffle_write_bytes": (med("shuffle_write_bytes"), "B"),
            "membership.shuffle_read_bytes": (med("shuffle_read_bytes"), "B"),
            "membership.shuffle_records": (med("shuffle_records"), "count"),
            "membership.shuffle_fetch_wait_s": (med("shuffle_fetch_wait_s"), "s"),
            "membership.shard_rows_max_over_median": (
                rows[-1] / statistics.median(rows), "ratio"),
            "membership.python_total_s": (med("python_total_s"), "s"),
            "membership.python_boot_s": (med("python_boot_s"), "s"),
            "membership.python_init_s": (med("python_init_s"), "s"),
            "membership.python_bytes_sent": (med("python_bytes_sent"), "B"),
            "membership.python_bytes_received": (med("python_bytes_received"), "B"),
            "membership.jobs_per_call": (med("jobs"), "count"),
            "membership.fallbacks": (self.fallbacks, "count"),
            **self.extra,
            "spark.executor_run_s": (med("executor_run_s"), "s"),
            "spark.executor_cpu_s": (med("executor_cpu_s"), "s"),
            "spark.tasks": (med("tasks"), "count"),
            "spark.task_failures": (sum(m["task_failures"] for m in per_call), "count"),
            "spark.jvm_gc_s": (med("jvm_gc_s"), "s"),
            "spark.spill_bytes": (med("spill_bytes"), "B"),
            "spark.scheduler_delay_s": (med("scheduler_delay_s"), "s"),
            "trace.op_s_p50": (op_p50, "s"),
        }
        self._print(log, calls, pre, op_p50, last_untraced)
        return out

    def _print(self, log, calls, pre, op_p50, last_untraced) -> None:
        w = self.w
        print(f"layer table: {w.name}, lane {w.lane}; prefixes are medians of "
              f"{PREFIX_REPS} runs, full op is the traced median of {len(calls)} calls")
        prev = 0.0
        for name, v in [*pre.items(), ("full op", op_p50)]:
            note = "  (not in this lane)" if name in self.absent else ""
            print(f"  {name:<12} {v:8.3f} s   +{v - prev:7.3f} s  "
                  f"{100 * (v - prev) / op_p50:5.1f}% of op{note}")
            prev = v
        hop = pre["+Arrow hop"] - pre["+pack"]
        print(f"  Exchange + Arrow hop: {hop:.3f} s = {100 * hop / op_p50:.1f}% of the op")

        spans = list(self.roots)
        for r in self.roots:
            spans += log.spans(r["group"], r["id"])
        own = self_times(spans)
        print("self time per timed call, median over calls (s; tasks run in "
              "parallel, so their sum can exceed the call): level, self, spans")
        for level in ("root", "job", "stage", "task"):
            per = []
            for c in calls:
                ids = [s["id"] for s in spans if s["level"] == level
                       and (s["id"] == c["id"] or s["id"].startswith(c["id"] + "/"))]
                per.append((sum(own[i] for i in ids), len(ids)))
            print(f"  {level:<6} {statistics.median(p[0] for p in per):8.3f} "
                  f"{statistics.median(p[1] for p in per):6.0f}")
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                last = json.load(f)
            base = last["op_s_p50"]
            print(f"tracing overhead: {op_p50 - base:+.3f} s "
                  f"(traced op_s_p50 {op_p50:.3f} s - untraced {base:.3f} s, from "
                  f"the last untraced run of this workload in .perfbench/: seed {last['seed']}, "
                  f"{(time.time() - last['time']) / 60:.0f} min ago)")
        else:
            print("tracing overhead: no untraced run of this workload in .perfbench/ to compare")
        out = os.path.join(os.path.dirname(last_untraced), f"spans-{w.name}.json")
        with open(out, "w") as f:
            json.dump(spans, f)
