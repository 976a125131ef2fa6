"""The workloads: what each sets up, the call it times, and the
checks it runs on every run.

Every workload is one client in a closed loop: the next call starts
when the previous one has returned its result. The first calls are a
warm-up (JIT, python worker start, first reads) and are reported apart
from the timed calls.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.operators.membership import (
    OVERPROVISION, ShardedCuckooFilter,
)
from cuckoo_filter_spark.sources.parquet_io import read_matched_splits

from perfbench import inputs

CFG = CuckooConfig(bits_per_tag=16, bucket_size=4)
#: mean load over the shards, below the paper's 0.95: hash sharding
#: leaves the fullest of 16 shards about 0.7 % above the mean, and at
#: 0.95 a shard at 0.953 dropped a key (seed 16), which fails the run;
#: at 0.93 the fullest shard stayed under 0.937 over seeds 1-30
LOAD = 0.93


@dataclass(frozen=True)
class Size:
    """Filter geometry and call sizes. ``keys`` fill ``2**log2_slots``
    slots to LOAD; the probe set is the keys plus as many disjoint
    negatives."""

    log2_slots: int
    shards: int
    #: probes per microbatch call (the traced run's per-call fixed cost)
    micro_probes: int

    @property
    def keys(self) -> int:
        return int((1 << self.log2_slots) * LOAD)

    @property
    def capacity(self) -> int:
        """Requested capacity whose per-shard geometry, after the
        build's overprovision and pow2 rounding, is exactly
        ``2**log2_slots / shards`` slots."""
        per_shard = (1 << self.log2_slots) // self.shards
        cap = int((1 << self.log2_slots) / OVERPROVISION)
        while math.ceil(cap / self.shards * OVERPROVISION) > per_shard:
            cap -= self.shards
        return cap


#: 2**21 slots, a quarter of the paper-scale 2**23: at 2**23 one run of
#: build-shuffle (three warm-up and three timed builds of ~4.6 s after a
#: ~10 s session start) takes over 70 s on a 4-core box, more than the
#: benchmark's time budget allows per run
FULL = Size(log2_slots=21, shards=16, micro_probes=1 << 18)
SMOKE = Size(log2_slots=14, shards=4, micro_probes=1 << 10)
#: microbatch tables written per run
MICRO_TABLES = 5
#: further negatives, as a multiple of the keys, probed once per run so
#: that the FPR rests on (1 + EXTRA_NEGATIVES) x keys negatives
EXTRA_NEGATIVES = 1


@dataclass
class Tally:
    """Key operations attempted and failed, and the checks run."""

    attempted: int = 0
    failed: int = 0
    failed_checks: list[str] = field(default_factory=list)

    def ops(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failed_checks.append(name)


class Inputs:
    """Parquet tables made from the seed: ``pos`` (key), ``probes``
    (key, pos) with every positive and as many negatives, ``extra``
    (key, pos) with EXTRA_NEGATIVES times as many further negatives
    for the FPR, ``sample`` (the fixed 1 % of probes whose index is a
    multiple of 100) and MICRO_TABLES microbatch tables (key, pos) of
    distinct keys, each half positives."""

    def __init__(self, work: str, keys: dict[str, np.ndarray], size: Size, files: int):
        pos = keys["pos"]
        neg, extra = keys["neg"][:len(pos)], keys["neg"][len(pos):]
        self.n_pos, self.n_neg, self.n_extra = len(pos), len(neg), len(extra)
        d = os.path.join(work, "inputs")
        self.pos = inputs.write_table(f"{d}/pos", {"key": pos}, files)
        flags = np.r_[np.ones(len(pos), bool), np.zeros(len(neg), bool)]
        both = np.r_[pos, neg]
        self.probes = inputs.write_table(
            f"{d}/probes", {"key": both, "pos": flags}, files
        )
        self.extra = inputs.write_table(
            f"{d}/extra", {"key": extra, "pos": np.zeros(len(extra), bool)}, files
        )
        self.sample = inputs.write_table(
            f"{d}/sample", {"key": both[::100], "pos": flags[::100]}, files
        )
        half = size.micro_probes // 2
        self.micro = []
        for i in range(min(MICRO_TABLES, len(pos) // half)):
            lo = i * half
            self.micro.append(inputs.write_table(
                f"{d}/micro-{i:03d}",
                {"key": np.r_[pos[lo:lo + half], neg[lo:lo + half]],
                 "pos": np.r_[np.ones(half, bool), np.zeros(half, bool)]},
                files,
            ))


def build(spark, path: str, size: Size) -> tuple[ShardedCuckooFilter, object]:
    """The build call: scan, shard, insert, persist; returns the filter
    and its metrics row (rows, occupied, kicks, failures)."""
    flt = ShardedCuckooFilter.build(
        read_matched_splits(spark, path), "key", size.capacity, size.shards, CFG
    ).persist()
    return flt, flt.metrics().collect()[0]


def check_build(tally: Tally, m, n: int) -> None:
    tally.ops(n, int(m["failures"]))
    tally.check("build rows", m["rows"] == n)
    tally.check("occupied + failures == rows",
                m["occupied"] + m["failures"] == m["rows"])


def probe_counts(flt: ShardedCuckooFilter, df) -> tuple[int, int]:
    """contains_broadcast over a (key, pos) table; returns (true
    positives, false positives)."""
    r = flt.contains_broadcast(df, "key").agg(
        F.count(F.when(F.col("pos") & F.col("member"), 1)).alias("tp"),
        F.count(F.when(~F.col("pos") & F.col("member"), 1)).alias("fp"),
    ).collect()[0]
    return int(r["tp"]), int(r["fp"])


def check_probe(tally: Tally, n_pos: int, n_neg: int, tp: int, failures: int) -> None:
    """Count false negatives as failed probes and check that only keys
    whose insert failed can be missing (none, when every insert
    succeeded)."""
    tally.ops(n_pos + n_neg, n_pos - tp)
    tally.check("false negatives <= insert failures", n_pos - tp <= failures)


def check_lanes(tally: Tally, spark, flt: ShardedCuckooFilter, sample: str) -> None:
    """Broadcast and shard-routed contains answer the same on the 1 %
    sample (untimed)."""
    df = read_matched_splits(spark, sample)
    bcast = {r["key"]: r["member"] for r in
             flt.contains_broadcast(df, "key").select("key", "member").collect()}
    routed = {r["key"]: r["member"] for r in flt.contains(df).collect()}
    tally.check("broadcast == routed contains on 1% sample", bcast == routed)


def check_deleted(tally: Tally, new: ShardedCuckooFilter, n_ok: int, n: int,
                  occupied: int) -> None:
    """After deleting every inserted key: each stored key was removed
    once and no shard holds anything."""
    tally.ops(n, occupied - n_ok)
    tally.check("delete successes == occupancy", n_ok == occupied)
    tally.check("shards empty after delete", new.total_occupied() == 0)
    new.release()


@dataclass
class Run:
    """What a workload run measured."""

    keys_per_call: int
    times: list[float] = field(default_factory=list)
    warmup_s: float = 0.0
    fpr: float = float("nan")
    bits_per_key: float = float("nan")
    #: per-shard stored rows of the filter the workload used
    shard_rows: list[int] = field(default_factory=list)


class Workload:
    """Base: subclasses set ``name``, make their prerequisites in
    :meth:`prepare` and implement :meth:`call` (timed) and
    :meth:`after` (untimed checks on one call's result)."""

    name = ""
    lane = ""
    #: untimed calls before the timed ones: the JIT keeps speeding the
    #: calls up over the first few (measured: build 16.2, 4.4, 4.2,
    #: 3.8, 3.9, 3.4 s on a 4-core box), so one is not enough
    warmup_calls = 3
    #: timed calls a run makes however short ``--seconds`` is
    min_calls = 3

    def __init__(self, spark, ins: Inputs, size: Size, tally: Tally):
        self.spark, self.ins, self.size, self.tally = spark, ins, size, tally
        self.filt: ShardedCuckooFilter | None = None
        #: false positives among the probe table's negatives, if known
        self.fp: int | None = None
        self.run = Run(keys_per_call=self.keys_per_call())

    def keys_per_call(self) -> int:
        return self.ins.n_pos

    def prepare(self) -> None:
        """Prerequisites counted in setup: by default the filter."""
        self.filt, m = build(self.spark, self.ins.pos, self.size)
        check_build(self.tally, m, self.ins.n_pos)
        self.occupied = int(m["occupied"])
        self.failures = int(m["failures"])

    def call(self, i: int):
        raise NotImplementedError

    def after(self, i: int, out) -> None:
        pass

    def finish(self) -> None:
        """Untimed checks once the loop is over."""
        flt = self.filt
        self.run.bits_per_key = flt.total_blob_bytes() * 8 / max(self.occupied, 1)
        self.run.shard_rows = [int(r["rows"]) for r in flt.shards.select("rows").collect()]
        extra = read_matched_splits(self.spark, self.ins.extra)
        if self.fp is None:
            # the probe table has not been probed: probe it together
            # with the extra negatives, in one job
            tp, fp = probe_counts(
                flt, read_matched_splits(self.spark, self.ins.probes).unionByName(extra))
            check_probe(self.tally, self.ins.n_pos, self.ins.n_neg, tp, self.failures)
        else:
            fp = self.fp + probe_counts(flt, extra)[1]
        self.tally.ops(self.ins.n_extra, 0)
        self.run.fpr = fp / (self.ins.n_neg + self.ins.n_extra)
        self.tally.check("fpr <= 2x theoretical",
                         self.run.fpr <= 2 * CFG.theoretical_fpr(LOAD))

    def loop(self, seconds: float, before=None, on_call=None) -> None:
        """``warmup_calls`` untimed calls, then timed calls until
        ``seconds`` have passed and at least ``min_calls`` were
        made. The traced run passes ``before(i)``, called ahead of
        each call, and ``on_call(i, start, end)``, which sees each
        timed call's wall-clock interval."""
        before = before or (lambda i: None)
        t = time.perf_counter()
        for i in range(self.warmup_calls):
            before(i)
            self.after(i, self.call(i))
        self.run.warmup_s = time.perf_counter() - t
        deadline = time.perf_counter() + seconds
        i = self.warmup_calls
        while len(self.run.times) < self.min_calls or time.perf_counter() < deadline:
            before(i)
            w0, t0 = time.time(), time.perf_counter()
            out = self.call(i)
            dt = time.perf_counter() - t0
            self.run.times.append(dt)
            if on_call:
                on_call(i, w0, w0 + dt)
            self.after(i, out)
            i += 1


class BuildShuffle(Workload):
    name = "build-shuffle"
    lane = "build"
    #: the first build is cold (~15 s); two keep the run in budget
    warmup_calls = 2

    def prepare(self) -> None:
        pass

    def call(self, i: int):
        if self.filt is not None:
            self.filt.shards.unpersist()
        self.filt, m = build(self.spark, self.ins.pos, self.size)
        return m

    def after(self, i: int, m) -> None:
        check_build(self.tally, m, self.ins.n_pos)
        self.occupied = int(m["occupied"])
        self.failures = int(m["failures"])

    def finish(self) -> None:
        super().finish()
        # the routed delete lane, checked (not timed) on the last build;
        # probe-broadcast runs the broadcast == routed contains check
        _, new = self.filt.delete(read_matched_splits(self.spark, self.ins.pos), per_key=False)
        check_deleted(self.tally, new, new.delete_success_count(), self.ins.n_pos,
                      self.occupied)


class ProbeBroadcast(Workload):
    name = "probe-broadcast"
    lane = "broadcast"
    #: its calls are short and kept speeding up past the second call
    #: (1.44, 1.42, 1.22, 1.09 s after two warm-ups on a 4-core box),
    #: so it warms up longer and takes the median of more calls
    warmup_calls = 4
    min_calls = 6

    def keys_per_call(self) -> int:
        return self.ins.n_pos + self.ins.n_neg

    def prepare(self) -> None:
        super().prepare()
        self.df = read_matched_splits(self.spark, self.ins.probes)
        self.filt.contains_broadcast(self.df, "key")  # collect + stack + broadcast
        self.fp_seen = set()

    def call(self, i: int):
        return probe_counts(self.filt, self.df)

    def after(self, i: int, out) -> None:
        tp, self.fp = out
        check_probe(self.tally, self.ins.n_pos, self.ins.n_neg, tp, self.failures)
        self.fp_seen.add(self.fp)

    def finish(self) -> None:
        self.tally.check("every call gives the same answers", len(self.fp_seen) == 1)
        super().finish()
        check_lanes(self.tally, self.spark, self.filt, self.ins.sample)


class DeleteRouted(Workload):
    """Kept out of BENCHMARK.json: each run pays about 35 s of fixed
    Spark cost on a 4-core box (session start, a cold build, checks),
    and the benchmark's time budget (4 + 22 runs per listed workload
    in under an hour) holds two workloads. Run it by hand;
    build-shuffle checks this lane's answers on every run."""

    name = "delete-routed"
    lane = "routed"

    def prepare(self) -> None:
        super().prepare()
        self.df = read_matched_splits(self.spark, self.ins.pos)

    def call(self, i: int):
        _, new = self.filt.delete(self.df, per_key=False)
        return new, new.delete_success_count()

    def after(self, i: int, out) -> None:
        check_deleted(self.tally, *out, self.ins.n_pos, self.occupied)


WORKLOADS = {w.name: w for w in (BuildShuffle, ProbeBroadcast, DeleteRouted)}
