"""Distributed cuckoo-filter operators over Spark DataFrames.

Two execution modes, mirroring the reference's two deployment
shapes:

* **merged mode** (:class:`DistributedCuckooFilter`) — one logical
  filter. Per-partition partial filters are built with zero
  shuffle (``mapInPandas`` over the source's natural partitions),
  tree-merged executor-side, and the final blob is broadcast for
  batch ``contains``. This is the analog of the single-GPU filter
  (``/root/reference/include/CuckooFilter.cuh``) plus the IPC
  share-one-filter capability (``CuckooFilterIPC.cuh`` — persist +
  broadcast replaces the shm ring buffer).
* **sharded mode** (:class:`ShardedCuckooFilter`) — the filter is a
  DataFrame of disjoint key-sharded sub-filters; queries/deletes
  are routed to their owning shard by an independent hash, exactly
  the multi-GPU layout (``CuckooFilterMultiGPU.cuh:44-51,168-323``:
  partition → all-to-all → local op). Spark's Exchange IS the
  multisplit+all2all. This is the 10^12-key path: state never
  concentrates on one node.

Shard placement: every stage that hands shards to Python (both
packed build layouts, the key-shipping build, ``delete_broadcast``
and the offset-filter build) goes through :func:`place_shards`,
which sends shard ``s`` to partition ``s mod P`` with
``P = min(num_shards, defaultParallelism)``. As in the reference,
the number of local ops is the number of devices (cores), not the
number of shards: each Python task owns whole shards, none is empty,
and none pays the fixed per-task worker cost for a handful of rows.
``write_bucketed_keys`` keeps its hash repartition into
``num_shards`` partitions, because there the partitioning sets the
file layout, not a Python stage.

Scale notes (100 TB / 1000 executors):
* build is map-side only in merged mode — no shuffle of raw keys;
  the only exchanged bytes are filter blobs (treeReduce).
* sharded mode shuffles only the 8-byte keys, not source rows;
  probes co-locate with shard state via the same partitioner, so
  contains/delete is a single Exchange per batch.
* shard routing hash (JVM ``F.xxhash64``, seed 42) is independent
  of the fingerprint/bucket hash (numpy XXH64, private seed), so
  shard id never correlates with bucket index — the reference gets
  this for free by taking ``hash % numGPUs`` on the full 64-bit
  hash (``CuckooFilterMultiGPU.cuh:44-51``); with pow2 bucket masks
  we must use distinct seeds instead (SURVEY §2.3).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, LongType, StructField, StructType,
)

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.core.cuckoo import CuckooFilter
from cuckoo_filter_spark.hashing import candidate_exprs, keys_to_unsigned

#: per-shard capacity slack for hash imbalance, as in the reference
#: multi-GPU layer (``CuckooFilterMultiGPU.cuh:337``).
OVERPROVISION = 1.02

#: routed-lane output rows carry at most this many keys per Arrow
#: list: one row per shard is fine at 10^5 keys/shard, but at genome
#: scale (10^7+ keys/shard) a single multi-megaword array row
#: stresses the JVM GC (GCLocker retries observed at 2^28 slots x 2n
#: probes) — chunked rows explode to the same relation
ROUTED_CHUNK_ROWS = 1 << 20

_SHARD_SCHEMA = StructType([
    StructField("shard_id", LongType()),
    StructField("blob", BinaryType()),
    StructField("rows", LongType()),
    StructField("inserted", LongType()),
    StructField("kicks", LongType()),
    StructField("failures", LongType()),
])


def _keys_from_pdf(pdf: pd.DataFrame, col: str) -> np.ndarray:
    return keys_to_unsigned(pdf[col].to_numpy(dtype=np.int64, copy=False))


class _SortedInsertFilter(CuckooFilter):
    """``add_many`` via the in-batch-sorted insert path
    (insertManySorted) — lets :meth:`DistributedCuckooFilter.build`
    reuse the generic mergeable-sketch aggregation with the sorted
    placement kernel."""

    def add_many(self, keys: np.ndarray) -> None:
        self.insert_many_sorted(keys)


def _arrow_shard_builder(
    per_shard_cap: int, cfg: CuckooConfig, shard_shift: int | None = None
):
    """mapInArrow worker: group packed batches by shard and run
    placement-only inserts (the hash chain already ran in codegen).
    Arrow in/out — no pandas boxing on the hot path. With
    ``shard_shift`` the input is ONE column carrying
    ``(shard << shard_shift) | (i1 << f) | fp``; otherwise two
    columns (__shard, __packed)."""

    def build_shards(batches):
        import pyarrow as pa

        local_mask = None if shard_shift is None else np.int64(
            (1 << shard_shift) - 1
        )
        per_shard: dict[int, list[np.ndarray]] = {}
        for rb in batches:
            if rb.num_rows == 0:
                continue
            if shard_shift is not None:
                v = rb.column(0).to_numpy(zero_copy_only=False)
                sids = v >> np.int64(shard_shift)
                packed = v & local_mask
            else:
                sids = rb.column(0).to_numpy(zero_copy_only=False)
                packed = rb.column(1).to_numpy(zero_copy_only=False)
            order = np.argsort(sids, kind="stable")
            sp = packed[order]
            ss = sids[order]
            bounds = np.flatnonzero(np.r_[True, ss[1:] != ss[:-1]])
            for b0, b1 in zip(bounds, np.r_[bounds[1:], len(ss)]):
                per_shard.setdefault(int(ss[b0]), []).append(sp[b0:b1])
        for sid, chunks in per_shard.items():
            flt = CuckooFilter(per_shard_cap, cfg)
            rows = 0
            inserted = 0
            for chunk in chunks:
                rows += len(chunk)
                inserted += int(flt.insert_packed(chunk).sum())
            yield pa.RecordBatch.from_pydict({
                "shard_id": [sid],
                "blob": [flt.to_bytes()],
                "rows": [rows],
                "inserted": [inserted],
                "kicks": [flt.kicks],
                "failures": [flt.failures],
            })

    return build_shards


def _packed_shard_shift(
    per_shard_cap: int, num_shards: int, cfg: CuckooConfig,
) -> Optional[int]:
    """Bit position of the shard id in the single-long packed layout
    ``(shard << shift) | (i1 << f) | fp``, or None when
    shard+bucket+tag exceed 62 bits and the two-column layout must
    be used instead."""
    nb = cfg.num_buckets_for(per_shard_cap)
    shift = cfg.bits_per_tag + (nb - 1).bit_length()
    shard_bits = max(1, (num_shards - 1).bit_length())
    return shift if shift + shard_bits <= 62 else None


def _words_frame(
    spark: SparkSession, buckets: np.ndarray, bits_per_tag: int
) -> tuple[DataFrame, int]:
    """The filter's bucket array as a (bid, w0..w{k-1}) DataFrame of
    64-bit words — the filter *as a broadcast dimension table*, so a
    membership probe becomes a broadcast hash join + bit math in
    whole-stage codegen (no Python, no shuffle)."""
    b = buckets.shape[1]
    if (b * bits_per_tag) % 64 != 0:
        raise NotImplementedError(
            "SQL probe requires word-aligned buckets (b*f % 64 == 0)"
        )
    wpb = (b * bits_per_tag) // 64
    words = buckets.view(np.uint64).reshape(-1, wpb).view(np.int64)
    pdf = pd.DataFrame({"bid": np.arange(len(words), dtype=np.int64)})
    for j in range(wpb):
        pdf[f"w{j}"] = words[:, j]
    return spark.createDataFrame(pdf), wpb


def _lane_match(wcol, fp_col, bits_per_tag: int):
    """OR of per-lane tag equality on one 64-bit bucket word — the
    SQL form of the SWAR probe (``helpers.cuh:78-151``), unrolled to
    comparisons so long arithmetic never overflows under ANSI mode."""
    lanes = 64 // bits_per_tag
    tag_mask = (1 << bits_per_tag) - 1
    cond = None
    for lane in range(lanes):
        c = (
            F.shiftrightunsigned(wcol, lane * bits_per_tag)
            .bitwiseAND(F.lit(tag_mask)) == fp_col
        )
        cond = c if cond is None else (cond | c)
    return cond


def _sql_probe(
    queries: DataFrame, words: DataFrame, wpb: int, b1, b2, fp,
    bits_per_tag: int, out_col: str,
) -> DataFrame:
    """Two broadcast hash joins of the probe set against the
    filter-words dimension (primary + alternate bucket), then lane
    matching — fully JVM-side."""
    p = (
        queries.withColumn("__fp", fp)
        .withColumn("__b1", b1)
        .withColumn("__b2", b2)
    )
    w1 = words.select(
        F.col("bid").alias("__b1"),
        *[F.col(f"w{j}").alias(f"__x{j}") for j in range(wpb)],
    )
    w2 = words.select(
        F.col("bid").alias("__b2"),
        *[F.col(f"w{j}").alias(f"__y{j}") for j in range(wpb)],
    )
    j = p.join(F.broadcast(w1), "__b1", "left").join(
        F.broadcast(w2), "__b2", "left"
    )
    cond = None
    for jcol in [f"__x{k}" for k in range(wpb)] + [f"__y{k}" for k in range(wpb)]:
        c = _lane_match(F.col(jcol), F.col("__fp"), bits_per_tag)
        cond = c if cond is None else (cond | c)
    return j.withColumn(out_col, F.coalesce(cond, F.lit(False))).drop(
        "__fp", "__b1", "__b2",
        *[f"__x{k}" for k in range(wpb)], *[f"__y{k}" for k in range(wpb)],
    )


# ---------------------------------------------------------------------------
# merged mode
# ---------------------------------------------------------------------------


class DistributedCuckooFilter:
    """Build one mergeable filter from a DataFrame key column."""

    def __init__(self, filter_: CuckooFilter):
        self.filter = filter_
        self._bc = None
        self._words = None  # cached (words DataFrame, wpb) for SQL probe

    # -- build ----------------------------------------------------------

    @staticmethod
    def build(
        df: DataFrame,
        key_col: str,
        capacity: int,
        config: Optional[CuckooConfig] = None,
        fan_in: int = 8,
        sorted_insert: bool = False,
    ) -> "DistributedCuckooFilter":
        """Per-partition partial build + executor-side fan-in merge.

        No shuffle of keys: each input partition builds a partial
        filter of the FINAL geometry (merge requires identical
        geometry), and only blobs move — first into ``fan_in``
        executor-side merge tasks, then the ≤fan_in survivors to
        the driver. ONE Spark job, all-Arrow (the old RDD
        ``treeReduce`` cost a job per level). Equivalent dataflow to
        the reference's per-GPU build + union
        (``CuckooFilterMultiGPU.cuh:335-363``). Delegates to the
        generic mergeable-sketch aggregation (``sketch_agg.
        aggregate_sketch``) — the cuckoo filter IS a sketch under
        that protocol.
        """
        from cuckoo_filter_spark.operators.sketch_agg import aggregate_sketch

        cfg = config or CuckooConfig()
        make = (
            (lambda: _SortedInsertFilter(capacity, cfg)) if sorted_insert
            else (lambda: CuckooFilter(capacity, cfg))
        )
        return DistributedCuckooFilter(
            aggregate_sketch(df, key_col, make, fan_in=fan_in)
        )

    # -- query ----------------------------------------------------------

    def _broadcast(self, spark: SparkSession):
        if self._bc is None:
            self._bc = spark.sparkContext.broadcast(self.filter.to_bytes())
        return self._bc

    def contains_udf(self, spark: SparkSession):
        """Vectorized membership UDF against the broadcast blob
        (containsMany, ``CuckooFilter.cuh:518-523``). Iterator form
        deserializes the blob once per task, not per batch."""
        bc = self._broadcast(spark)

        @F.pandas_udf(BooleanType())
        def member(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            flt = CuckooFilter.from_bytes(bc.value)
            for s in batches:
                keys = keys_to_unsigned(s.to_numpy(dtype=np.int64, copy=False))
                yield pd.Series(flt.contains_many(keys))

        return member

    def contains(self, df: DataFrame, key_col: str, out_col: str = "member") -> DataFrame:
        spark = df.sparkSession
        return df.withColumn(out_col, self.contains_udf(spark)(F.col(key_col)))

    def contains_sql(
        self, df: DataFrame, key_col: str, out_col: str = "member"
    ) -> DataFrame:
        """Pure-JVM membership: the filter is shipped as a broadcast
        (bid, words) dimension table and probed with two broadcast
        hash joins + codegen'd bit math — zero Python in the probe
        path (the fingerprint family is the JVM-parity chained hash,
        see ``hashing.chained_hash``)."""
        if self.config.bucket_policy not in ("xor", "addsub"):
            raise NotImplementedError(
                "SQL probe implements XOR/AddSub addressing"
            )
        spark = df.sparkSession
        if self._words is None:
            self._words = _words_frame(
                spark, self.filter.buckets, self.config.bits_per_tag
            )
        words, wpb = self._words
        fp, i1, i2 = candidate_exprs(
            key_col, self.filter.num_buckets, self.config.bits_per_tag,
            self.config.bucket_policy,
        )
        return _sql_probe(
            df, words, wpb, i1, i2, fp, self.config.bits_per_tag, out_col
        )

    @property
    def config(self) -> CuckooConfig:
        return self.filter.config

    def delete_local(self, keys_i64: np.ndarray) -> np.ndarray:
        """Driver-side batch delete against the merged filter (the
        merged filter lives on the driver by construction). For
        distributed deletes at scale use :class:`ShardedCuckooFilter`.
        Invalidates the broadcast blob and the SQL words table."""
        self._bc = None
        self._words = None
        return self.filter.delete_many(keys_to_unsigned(keys_i64))


# ---------------------------------------------------------------------------
# sharded mode (multi-GPU analog)
# ---------------------------------------------------------------------------


def shard_expr(key_col: str, num_shards: int):
    """Shard router: JVM-side xxhash64 (seed 42) mod num_shards —
    independent of the fingerprint hash family (private seed)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_shards)).cast("long")


def place_shards(df: DataFrame, shard, num_shards: int) -> DataFrame:
    """The one placement rule for every stage that hands shards to
    Python: shard ``s`` goes to partition ``s mod P`` with
    ``P = min(num_shards, defaultParallelism)`` — one Python task per
    core, each owning ⌈num_shards/P⌉ or ⌊num_shards/P⌋ whole shards
    (the reference's one-local-op-per-device shape,
    ``CuckooFilterMultiGPU.cuh:168-323``). Hashing the shard ids
    instead leaves some partitions empty and doubles others up, and
    every extra Python task pays a fixed worker cost whatever its row
    count. ``shard`` is a Column holding the shard id."""
    parts = min(num_shards, df.sparkSession.sparkContext.defaultParallelism)
    return df.repartitionById(parts, shard.cast("int"))


def _non_null_keys(df: DataFrame, key_col: str) -> DataFrame:
    """Build input with null keys dropped JVM-side, before any
    Exchange: a null key is never inserted and never counted in a
    shard's ``rows``."""
    return df.where(F.col(key_col).isNotNull())


def _check_broadcast_size(flt, op: str) -> bool:
    """Shared broadcast-lane size guard for the sharded filter
    classes. Collecting + broadcasting every shard blob only makes
    sense while the whole serialized filter fits the driver and
    executors comfortably; past ``flt.max_broadcast_bytes`` the
    caller must take the shard-routed lane instead (state stays on
    executors). Returns True when the broadcast may proceed; on
    oversize either warns and returns False (``on_oversize_broadcast
    == "fallback"``) or raises (``"raise"``). Caches the size
    aggregate on the instance (shards are immutable — deletes return
    a NEW filter)."""
    if not flt.shards.is_cached:
        # the size aggregate materializes the shard state; cache it
        # so the broadcast collect (or the routed fallback) reads the
        # built filter instead of rebuilding it
        flt.persist()
    size = flt.total_blob_bytes()
    if size <= flt.max_broadcast_bytes:
        return True
    if flt.on_oversize_broadcast == "raise":
        raise ValueError(
            f"{op}: filter state is {size >> 20} MiB serialized, over "
            f"the {flt.max_broadcast_bytes >> 20} MiB broadcast "
            "guard — use the shard-routed op (state stays on "
            "executors), or raise max_broadcast_bytes if the cluster "
            "can take it"
        )
    import warnings

    warnings.warn(
        f"{op}: filter state is {size >> 20} MiB serialized, over the "
        f"{flt.max_broadcast_bytes >> 20} MiB broadcast guard; "
        "falling back to the shard-routed lane (set "
        "on_oversize_broadcast='raise' or raise max_broadcast_bytes "
        "to override)",
        RuntimeWarning,
        stacklevel=4,
    )
    return False


@dataclass
class ShardedCuckooFilter:
    """A filter kept as a DataFrame of disjoint key-sharded blobs.

    ``shards`` schema: (shard_id, blob, rows, inserted, kicks,
    failures). State stays distributed; queries and deletes shuffle
    only their 8-byte keys to the owning shard.
    """

    shards: DataFrame
    num_shards: int
    config: CuckooConfig
    key_col: str = "key"
    #: per-shard bucket count (known at build time); enables JVM-side
    #: candidate packing for routed ops. None for externally loaded
    #: shard sets.
    shard_num_buckets: Optional[int] = None
    #: broadcast-lane size guard: collecting + broadcasting every
    #: shard blob only makes sense while the whole filter fits the
    #: driver and executors comfortably. Past this many blob bytes
    #: the broadcast lanes fall back to the shard-routed ops (state
    #: stays on executors) with a warning — or raise, see
    #: ``on_oversize_broadcast``.
    max_broadcast_bytes: int = 512 << 20
    #: "fallback" (default) routes the op instead; "raise" errors.
    on_oversize_broadcast: str = "fallback"
    _stacked: object = None  # cached (broadcast, nb, bs, dtype_name)
    _words: object = None    # cached (words DF, wpb, nb) for SQL probe
    _del_state: object = None  # cached (full_rows, broadcast) for delete_broadcast
    _blob_bytes: object = None  # cached total blob bytes (size guard)

    @staticmethod
    def build(
        df: DataFrame,
        key_col: str,
        capacity: int,
        num_shards: int,
        config: Optional[CuckooConfig] = None,
        sorted_insert: bool = False,
        jvm_pack: bool = True,
    ) -> "ShardedCuckooFilter":
        cfg = config or CuckooConfig()
        per_shard_cap = int(math.ceil(capacity / num_shards * OVERPROVISION))
        if (jvm_pack and cfg.bucket_policy in ("xor", "addsub")
                and not sorted_insert):
            return ShardedCuckooFilter._build_packed(
                df, key_col, num_shards, cfg, per_shard_cap
            )

        def build_shards(batches: "Iterator[pd.DataFrame]"):
            # one partition holds several whole shards (place_shards
            # sends shard s to partition s mod P); group pandas-side —
            # this avoids the sort groupBy().applyInPandas() would
            # inject, so the Exchange is the only data movement, and
            # it carries ONLY the 8-byte key: the shard id is
            # recomputed from the key in numpy (bit-exact with the
            # JVM router).
            from cuckoo_filter_spark.hashing import xxhash64_u64

            per_shard: dict[int, list[np.ndarray]] = {}
            for pdf in batches:
                keys = _keys_from_pdf(pdf, key_col)
                sids = xxhash64_u64(keys, seed=42).view(np.int64) % num_shards
                order = np.argsort(sids, kind="stable")
                sk, ss = keys[order], sids[order]
                bounds = np.flatnonzero(np.r_[True, ss[1:] != ss[:-1]])
                for b0, b1 in zip(bounds, np.r_[bounds[1:], len(ss)]):
                    per_shard.setdefault(int(ss[b0]), []).append(sk[b0:b1])
            for sid, chunks in per_shard.items():
                flt = CuckooFilter(per_shard_cap, cfg)
                insert = (
                    flt.insert_many_sorted if sorted_insert else flt.insert_many
                )
                rows = 0
                inserted = 0
                for chunk in chunks:
                    rows += len(chunk)
                    inserted += int(insert(chunk).sum())
                yield pd.DataFrame({
                    "shard_id": [sid],
                    "blob": [flt.to_bytes()],
                    "rows": [rows],
                    "inserted": [inserted],
                    "kicks": [flt.kicks],
                    "failures": [flt.failures],
                })

        keys = _non_null_keys(df, key_col).select(F.col(key_col))
        shards = place_shards(
            keys, shard_expr(key_col, num_shards), num_shards
        ).mapInPandas(build_shards, schema=_SHARD_SCHEMA)
        return ShardedCuckooFilter(
            shards, num_shards, cfg, key_col,
            shard_num_buckets=cfg.num_buckets_for(per_shard_cap),
        )

    @staticmethod
    def _build_packed(
        df: DataFrame, key_col: str, num_shards: int, cfg: CuckooConfig,
        per_shard_cap: int,
    ) -> "ShardedCuckooFilter":
        """Build variant where the whole hash chain runs JVM-side:
        the Exchange carries ``(shard << (f+log2(nb))) | (i1 << f) |
        fp`` in a SINGLE long — the reference's pack-kernel layout
        (``CuckooFilter.cuh:1185-1207``) with the shard id riding the
        spare upper bits, so the shuffled UnsafeRow is one field (16
        bytes) instead of two (24 bytes). The Python stage is pure
        placement (``insert_packed``). Same filters bit-for-bit as
        the key-shipping build (chained hash family parity). Falls
        back to the two-column layout when shard+i1+f exceed 62 bits
        (per-shard bucket counts beyond ~2^40 at f=16)."""
        from cuckoo_filter_spark.hashing import packed_expr

        nb = cfg.num_buckets_for(per_shard_cap)
        f = cfg.bits_per_tag
        # pow2 (xor) or even (addsub) bucket counts both fit
        shard_shift = _packed_shard_shift(per_shard_cap, num_shards, cfg)
        keys = _non_null_keys(df, key_col)
        if shard_shift is not None:
            one = F.shiftleft(
                shard_expr(key_col, num_shards), shard_shift
            ).bitwiseOR(packed_expr(key_col, nb, f, cfg.bucket_policy))
            shards = place_shards(
                keys.select(one.alias("__packed")),
                F.shiftrightunsigned(F.col("__packed"), shard_shift),
                num_shards,
            ).mapInArrow(
                _arrow_shard_builder(
                    per_shard_cap, cfg, shard_shift=shard_shift
                ),
                schema=_SHARD_SCHEMA,
            )
        else:
            shards = place_shards(
                keys.select(
                    shard_expr(key_col, num_shards).alias("__shard"),
                    packed_expr(
                        key_col, nb, f, cfg.bucket_policy
                    ).alias("__packed"),
                ),
                F.col("__shard"),
                num_shards,
            ).mapInArrow(
                _arrow_shard_builder(per_shard_cap, cfg),
                schema=_SHARD_SCHEMA,
            )
        return ShardedCuckooFilter(
            shards, num_shards, cfg, key_col, shard_num_buckets=nb
        )

    #: sidecar file recording the packed-layout parameters inside a
    #: write_bucketed_keys table directory
    LAYOUT_SIDECAR = "_cuckoo_layout.json"

    @staticmethod
    def _layout_payload(
        num_shards: int, per_shard_cap: int, cfg: CuckooConfig,
        shard_shift: Optional[int],
    ) -> dict:
        return {
            "version": 1,
            "layout": "packed1" if shard_shift is not None else "two_col",
            "shard_shift": shard_shift,
            "num_shards": num_shards,
            "per_shard_cap": per_shard_cap,
            "num_buckets": cfg.num_buckets_for(per_shard_cap),
            "bits_per_tag": cfg.bits_per_tag,
            "bucket_size": cfg.bucket_size,
            "bucket_policy": cfg.bucket_policy,
        }

    @staticmethod
    def build_bucketed(
        df: DataFrame,
        capacity: int,
        num_shards: int,
        config: Optional[CuckooConfig] = None,
        key_col: str = "key",
        path: Optional[str] = None,
    ) -> "ShardedCuckooFilter":
        """Zero-shuffle build from a pre-bucketed source.

        ``df`` is a table written by :meth:`write_bucketed_keys`
        (or any table bucketed by the shard router at ingest time —
        the 100 TB deployment shape: the corpus is bucketed by
        content-hash once, every filter build after that is a pure
        scan → per-task placement with NO Exchange). Two layouts are
        accepted: the compact single-column ``__packed`` with the
        shard id riding the spare upper bits (8 B/row scanned and
        shipped to the placement workers — the default
        ``write_bucketed_keys`` output when shard+bucket+tag fit in
        62 bits), or the two-column ``(__shard, __packed)`` fallback.
        Tasks may mix shards; the builder groups arrow-side, so
        file/task alignment is a performance knob, not a correctness
        requirement.

        The packed layout is only decodable with the write-time
        parameters — a mismatched ``capacity``/``num_shards``/
        ``config`` would silently mis-extract shard ids and tags
        (corrupt filter). ``write_bucketed_keys`` therefore records
        the layout in a ``_cuckoo_layout.json`` sidecar; pass
        ``path`` so this build validates its derived layout against
        it and raises on any mismatch instead of corrupting.
        """
        cfg = config or CuckooConfig()
        per_shard_cap = int(math.ceil(capacity / num_shards * OVERPROVISION))
        if path is not None:
            from cuckoo_filter_spark.sources.parquet_io import (
                read_json_sidecar,
            )

            recorded = read_json_sidecar(
                df.sparkSession, path, ShardedCuckooFilter.LAYOUT_SIDECAR
            )
            if recorded is not None:
                derived = ShardedCuckooFilter._layout_payload(
                    num_shards, per_shard_cap, cfg,
                    _packed_shard_shift(per_shard_cap, num_shards, cfg),
                )
                diffs = {
                    k: (recorded.get(k), v)
                    for k, v in derived.items()
                    if recorded.get(k) != v
                }
                if diffs:
                    raise ValueError(
                        "bucketed table layout mismatch (recorded vs "
                        f"derived): {diffs} — rebuild with the write-time "
                        "capacity/num_shards/config or re-write the table"
                    )
        if "__shard" in df.columns:
            shards = df.select("__shard", "__packed").mapInArrow(
                _arrow_shard_builder(per_shard_cap, cfg), schema=_SHARD_SCHEMA
            )
        else:
            shard_shift = _packed_shard_shift(
                per_shard_cap, num_shards, cfg
            )
            if shard_shift is None:
                raise ValueError(
                    "single-column bucketed layout requires "
                    "shard+bucket+tag <= 62 bits; re-write the table "
                    "with the (__shard, __packed) layout"
                )
            shards = df.select("__packed").mapInArrow(
                _arrow_shard_builder(
                    per_shard_cap, cfg, shard_shift=shard_shift
                ),
                schema=_SHARD_SCHEMA,
            )
        return ShardedCuckooFilter(
            shards, num_shards, cfg, key_col,
            shard_num_buckets=cfg.num_buckets_for(per_shard_cap),
        )

    @staticmethod
    def write_bucketed_keys(
        df: DataFrame, key_col: str, capacity: int, num_shards: int,
        path: str, config: Optional[CuckooConfig] = None,
    ) -> None:
        """Materialize the shard-bucketed key table to parquet — the
        one-time table-preparation step that makes every subsequent
        :meth:`build_bucketed` shuffle-free. When shard+bucket+tag
        fit in 62 bits (per-shard bucket counts up to ~2^40 at f=16)
        the table is a SINGLE packed long per key — shard id in the
        spare upper bits, the reference pack-kernel layout
        (``CuckooFilter.cuh:1185-1207``) — so the build scans and
        ships 8 B/row instead of 16; otherwise the two-column
        ``(__shard, __packed)`` fallback is written. A
        ``_cuckoo_layout.json`` sidecar records the layout
        parameters so :meth:`build_bucketed` can validate instead of
        trusting caller-supplied geometry."""
        from cuckoo_filter_spark.hashing import packed_expr
        from cuckoo_filter_spark.sources.parquet_io import write_json_sidecar

        cfg = config or CuckooConfig()
        per_shard_cap = int(math.ceil(capacity / num_shards * OVERPROVISION))
        nb = cfg.num_buckets_for(per_shard_cap)
        shard_shift = _packed_shard_shift(per_shard_cap, num_shards, cfg)
        keys = _non_null_keys(df, key_col)
        if shard_shift is not None:
            one = F.shiftleft(
                shard_expr(key_col, num_shards), shard_shift
            ).bitwiseOR(
                packed_expr(key_col, nb, cfg.bits_per_tag, cfg.bucket_policy)
            )
            (
                keys.select(one.alias("__packed"))
                .repartition(
                    num_shards,
                    F.shiftrightunsigned(F.col("__packed"), shard_shift),
                )
                .write.mode("overwrite").parquet(path)
            )
        else:
            (
                keys.select(
                    shard_expr(key_col, num_shards).alias("__shard"),
                    packed_expr(
                        key_col, nb, cfg.bits_per_tag, cfg.bucket_policy
                    ).alias("__packed"),
                )
                .repartition(num_shards, "__shard")
                .write.mode("overwrite").parquet(path)
            )
        write_json_sidecar(
            df.sparkSession, path, ShardedCuckooFilter.LAYOUT_SIDECAR,
            ShardedCuckooFilter._layout_payload(
                num_shards, per_shard_cap, cfg, shard_shift
            ),
        )

    @staticmethod
    def read_bucketed_keys(
        spark: SparkSession, path: str, target_splits: Optional[int] = None,
    ) -> DataFrame:
        """Read a :meth:`write_bucketed_keys` table with scan
        parallelism matched to the cluster.

        ``build_bucketed`` is a pure scan → per-task placement (no
        Exchange), so its parallelism IS the file-split count. At
        deployment scale (≥128 MB row groups) the default
        ``spark.sql.files.maxPartitionBytes`` already yields a split
        per core; but a bucketed table whose per-shard files are
        small (a fresh ingest, a low-cardinality corpus, local
        testing) gets coalesced into a handful of splits — a 100 MB
        table in 2.4 MB files packs into ~3 tasks under the 128 MB
        default + 4 MB open cost, serializing the whole placement
        stage. This helper sizes ``maxPartitionBytes`` /
        ``openCostInBytes`` on the session so the scan yields
        ``>= min(target_splits, number of files)`` splits, then
        returns the reader (see
        :func:`cuckoo_filter_spark.sources.parquet_io.read_matched_splits`
        for the conf mechanics).
        """
        from cuckoo_filter_spark.sources.parquet_io import read_matched_splits

        return read_matched_splits(spark, path, target_splits)

    def persist(self) -> "ShardedCuckooFilter":
        self.shards = self.shards.persist()
        return self

    def total_blob_bytes(self) -> int:
        """Total serialized filter bytes across shards (one cheap
        aggregate; cached — shards are immutable)."""
        if self._blob_bytes is None:
            object.__setattr__(
                self, "_blob_bytes",
                int(
                    self.shards.agg(
                        F.sum(F.length("blob")).alias("b")
                    ).collect()[0]["b"] or 0
                ),
            )
        return self._blob_bytes

    def _broadcast_guard(self, op: str) -> bool:
        """True when the broadcast lane may proceed. Oversized state
        either falls back (caller routes instead) or raises,
        depending on ``on_oversize_broadcast``. Skipped once a
        broadcast cache already exists (the bytes are already
        shipped)."""
        if self._stacked is not None or self._del_state is not None:
            return True
        return _check_broadcast_size(self, op)

    # -- routed batch ops -------------------------------------------------

    def _routed(
        self, queries: DataFrame, op: str, out_col: str,
        res_spark_type=None, res_np_dtype=bool,
    ) -> DataFrame:
        """Route query keys to their shard and run a local batch op —
        the Spark expression of the reference's multisplit → all2all
        → local kernel → reverse all2all round trip
        (``CuckooFilterMultiGPU.cuh:168-323``). Results come back
        keyed (no order restoration needed — the reference restores
        input offsets because its API is positional; ours is
        relational)."""
        key_col = self.key_col
        cfg = self.config
        res_spark_type = res_spark_type or BooleanType()
        packed = (
            self.shard_num_buckets is not None
            and cfg.bucket_policy in ("xor", "addsub")
        )

        # one row per shard with list columns (exploded JVM-side):
        # the Python→JVM boundary carries num_shards rows, not
        # num_keys rows
        pack_schema = StructType([
            StructField("__keys", ArrayType(LongType())),
            StructField("__res", ArrayType(res_spark_type)),
        ])

        chunk_rows = ROUTED_CHUNK_ROWS

        def probe(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if len(left) == 0:
                # dtype=object, NOT the float64 pandas defaults for
                # empty columns — Arrow cannot convert float64 to the
                # list<int64>/list<bool> output schema (hit whenever a
                # shard receives zero probe keys)
                return pd.DataFrame({
                    "__keys": pd.Series([], dtype=object),
                    "__res": pd.Series([], dtype=object),
                })
            if len(right) == 0:
                res = np.zeros(len(left), dtype=res_np_dtype)
            else:
                flt = CuckooFilter.from_bytes(right["blob"].iloc[0])
                if packed:
                    res = getattr(flt, op + "_packed")(
                        left["__packed"].to_numpy(np.int64, copy=False)
                    )
                else:
                    res = getattr(flt, op + "_many")(
                        _keys_from_pdf(left, key_col)
                    )
            keys = left[key_col].to_numpy(np.int64, copy=False)
            bounds = range(0, len(keys), chunk_rows)
            return pd.DataFrame({
                "__keys": [keys[lo: lo + chunk_rows] for lo in bounds],
                "__res": [res[lo: lo + chunk_rows] for lo in bounds],
            })

        routed = queries.select(key_col)
        if packed:
            from cuckoo_filter_spark.hashing import packed_expr

            routed = routed.withColumn(
                "__packed",
                packed_expr(key_col, self.shard_num_buckets, cfg.bits_per_tag,
                            cfg.bucket_policy),
            )
        routed = routed.withColumn(
            "__shard", shard_expr(key_col, self.num_shards)
        )
        return (
            routed.groupBy("__shard")
            .cogroup(self.shards.groupBy(F.col("shard_id").alias("__shard")))
            .applyInPandas(probe, schema=pack_schema)
            .select(F.explode(F.arrays_zip("__keys", "__res")).alias("z"))
            .select(
                F.col("z.__keys").alias(key_col),
                F.col("z.__res").alias(out_col),
            )
        )

    def contains(self, queries: DataFrame, out_col: str = "member") -> DataFrame:
        """Batched membership, shard-routed (returns key → bool)."""
        return self._routed(queries, "contains", out_col)

    def _routed_with_columns(
        self, queries: DataFrame, key_col: str, out_col: str
    ) -> DataFrame:
        """Routed membership with the broadcast lanes' output shape
        (all query columns kept + out_col) — the oversize fallback:
        probe the distinct keys through the shard-routed lane, then
        join the answers back onto the full query rows."""
        probes = queries.select(
            F.col(key_col).alias(self.key_col)
        ).distinct()
        res = self._routed(probes, "contains", out_col)
        if self.key_col != key_col:
            res = res.withColumnRenamed(self.key_col, key_col)
        return queries.join(res, key_col)

    def counts(self, queries: DataFrame, out_col: str = "count") -> DataFrame:
        """Batched exact counting query, shard-routed (key → stored
        multiplicity) — the counting-structure surface the reference
        benchmarks against GQF (``benchmark/fpr_benchmark.cu:
        294-348``, ``benchmark/kmer_benchmark.cu:259-355``): inserts
        are multiset (each duplicate occupies a slot), this returns
        the per-key instance count, and multiset deletes decrement
        it. Over-counts only on full fingerprint+bucket-pair
        collisions (probability ≈ the membership FPR)."""
        return self._routed(
            queries, "count", out_col,
            res_spark_type=LongType(), res_np_dtype=np.int64,
        )

    def contains_broadcast(
        self, queries: DataFrame, key_col: str | None = None,
        out_col: str = "member",
    ) -> DataFrame:
        """Zero-shuffle membership: ALL shard blobs are broadcast and
        stacked into ONE (num_shards*num_buckets, bucket_size) array,
        so a whole Arrow batch is answered in a single vectorized
        pass — per-key shard routing (xxhash64 seed 42, bit-exact
        with the JVM build-time router; verified in tests) just
        offsets the bucket index by shard_id*num_buckets. Use when
        the total filter size is broadcastable (it is whenever the
        merged filter would be); :meth:`contains` is the
        shuffle-routed alternative for filters too big to ship.
        Appends `out_col` to the query DataFrame (all columns kept).
        """
        if self.config.bucket_policy != "xor":
            raise NotImplementedError(
                "stacked-broadcast probing implements XOR addressing; "
                "use .contains() (shard-routed) for other policies"
            )
        key_col = key_col or self.key_col
        if not self._broadcast_guard("contains_broadcast"):
            return self._routed_with_columns(queries, key_col, out_col)
        spark = queries.sparkSession
        tag_mask = self.config.tag_mask
        if self._stacked is None:
            # stack ONCE on the driver: shard s occupies bucket rows
            # [s*nb, (s+1)*nb). Workers view the broadcast bytes
            # zero-copy; nothing O(filter-size) happens per task.
            # Cached on the instance — shards are immutable (delete
            # returns a NEW ShardedCuckooFilter).
            filters = {
                r.shard_id: CuckooFilter.from_bytes(bytes(r.blob))
                for r in self.shards.collect()
            }
            if not filters:
                # built from an empty frame: no shard rows, no members
                return queries.withColumn(out_col, F.lit(False))
            any_f = next(iter(filters.values()))
            nb, bs = any_f.num_buckets, any_f.config.bucket_size
            dtype_name = any_f.buckets.dtype.name
            big = np.zeros(
                (self.num_shards * nb, bs), dtype=any_f.buckets.dtype
            )
            for sid, f in filters.items():
                if f.num_buckets != nb:
                    raise ValueError("heterogeneous shard geometry")
                big[sid * nb : (sid + 1) * nb] = f.buckets
            object.__setattr__(
                self, "_stacked",
                (spark.sparkContext.broadcast(big.tobytes()), nb, bs,
                 dtype_name),
            )
        bc, nb, bs, dtype_name = self._stacked
        num_shards = self.num_shards

        bits = self.config.bits_per_tag

        @F.pandas_udf(BooleanType())
        def member(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            from cuckoo_filter_spark.config import DISP_SALT, FP_SALT
            from cuckoo_filter_spark.core.cuckoo import CuckooFilter, probe_rows
            from cuckoo_filter_spark.hashing import (
                chained_hash, xxhash64_u64, xxhash64_const_vseed,
            )

            big = np.frombuffer(bc.value, dtype=np.dtype(dtype_name)).reshape(
                -1, bs
            )
            mask = np.uint64(nb - 1)
            # L2-resident alt-displacement table (h(fp) & mask)
            alt_tab = None
            if bits <= 16:
                all_fp = np.arange(1 << bits, dtype=np.uint64)
                alt_tab = (chained_hash(all_fp, DISP_SALT) & mask).astype(
                    np.int64
                )
            CH = CuckooFilter.CHUNK
            for s in batches:
                keys = s.to_numpy(dtype=np.int64, copy=False).view(np.uint64)
                n = len(keys)
                res = np.empty(n, dtype=bool)
                for lo in range(0, n, CH):
                    kc = keys[lo:lo + CH]
                    hr = xxhash64_u64(kc, seed=42)  # router hash
                    shard = (hr.view(np.int64) % num_shards).astype(np.int64)
                    h = xxhash64_const_vseed(FP_SALT, hr)
                    fp = ((h >> np.uint64(32)) & np.uint64(tag_mask)).astype(
                        big.dtype
                    )
                    fp[fp == 0] = 1
                    i1 = (h & mask).astype(np.int64)
                    if alt_tab is not None:
                        alt = alt_tab[fp.astype(np.int64)]
                    else:
                        alt = (
                            chained_hash(fp.astype(np.uint64), DISP_SALT)
                            & mask
                        ).astype(np.int64)
                    base = shard * nb
                    probe_rows(
                        big, base + i1, base + (i1 ^ alt), fp, bits,
                        out=res[lo:lo + len(kc)],
                    )
                yield pd.Series(res)

        return queries.withColumn(out_col, member(F.col(key_col)))

    def contains_sql(
        self, queries: DataFrame, key_col: str | None = None,
        out_col: str = "member",
    ) -> DataFrame:
        """Pure-JVM membership against the stacked shard words table:
        bucket id = shard * nb + i1 (shard from the seed-42 router,
        candidates from the chained family — all codegen
        expressions), probed with two broadcast hash joins. Zero
        Python and zero shuffle in the probe path."""
        if self.config.bucket_policy not in ("xor", "addsub"):
            raise NotImplementedError(
                "SQL probe implements XOR/AddSub addressing"
            )
        key_col = key_col or self.key_col
        if self._words is None and not self._broadcast_guard("contains_sql"):
            return self._routed_with_columns(queries, key_col, out_col)
        spark = queries.sparkSession
        if getattr(self, "_words", None) is None:
            filters = {
                r.shard_id: CuckooFilter.from_bytes(bytes(r.blob))
                for r in self.shards.collect()
            }
            any_f = next(iter(filters.values()))
            nb = any_f.num_buckets
            big = np.zeros(
                (self.num_shards * nb, any_f.config.bucket_size),
                dtype=any_f.buckets.dtype,
            )
            for sid, f in filters.items():
                big[sid * nb : (sid + 1) * nb] = f.buckets
            object.__setattr__(
                self, "_words",
                (*_words_frame(spark, big, self.config.bits_per_tag), nb),
            )
        words, wpb, nb = self._words
        fp, i1, i2 = candidate_exprs(
            key_col, nb, self.config.bits_per_tag, self.config.bucket_policy
        )
        base = shard_expr(key_col, self.num_shards) * nb
        return _sql_probe(
            queries, words, wpb, base + i1, base + i2, fp,
            self.config.bits_per_tag, out_col,
        )

    def delete(
        self, deletes: DataFrame, per_key: bool = True
    ) -> tuple[DataFrame | None, "ShardedCuckooFilter"]:
        """Batched delete. Returns (per-key success DF, new filter).

        Functional update: produces a new shards DataFrame rather
        than mutating in place, so lineage/checkpointing stays
        consistent. One cogroup pass emits ONE row per shard —
        updated blob + metrics + the per-key outcomes packed as
        Arrow list columns — so the Python→JVM boundary carries
        num_shards rows, not num_keys rows (numpy→Arrow list
        conversion is vectorized; the old per-key pandas frame with
        nullable object columns dominated delete wall time). The
        per-key result DataFrame is recovered with a codegen'd
        explode, and persisting the cogroup output caches only the
        shard rows.

        ``per_key=False`` mirrors the reference's delete contract
        exactly: ``deleteMany`` writes per-key outcomes into device
        memory that never leaves the GPU and returns only the scalar
        success count (``benchmark_common.cuh:287`` consumes just
        that scalar). Here the outcome array stays in the worker and
        only per-shard ``n_ok`` crosses to the JVM — measured at 16M
        keys/local[32], shipping the per-key Arrow list columns is
        ~half the delete wall time, so use this mode whenever the
        caller only needs the new filter + success count (returns
        ``(None, new_filter)``; read the count with
        :meth:`delete_success_count`)."""
        key_col = self.key_col
        cfg = self.config

        fields = [
            StructField("shard_id", LongType()),
            StructField("blob", BinaryType()),
            StructField("rows", LongType()),
            StructField("inserted", LongType()),
            StructField("kicks", LongType()),
            StructField("failures", LongType()),
            StructField("n_ok", LongType()),
        ]
        if per_key:
            fields += [
                StructField("del_keys", ArrayType(LongType())),
                StructField("del_ok", ArrayType(BooleanType())),
            ]
        schema = StructType(fields)

        packed = (
            self.shard_num_buckets is not None
            and cfg.bucket_policy in ("xor", "addsub")
        )

        def apply_delete(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            shard_id = int(key[0])
            keys_arr = left[key_col].to_numpy(np.int64, copy=False)
            if len(right):
                flt = CuckooFilter.from_bytes(right["blob"].iloc[0])
                if len(left):
                    if packed:
                        ok = flt.delete_packed(
                            left["__packed"].to_numpy(np.int64, copy=False)
                        )
                    else:
                        ok = flt.delete_many(_keys_from_pdf(left, key_col))
                else:
                    ok = np.zeros(0, dtype=bool)
                out = {
                    "shard_id": [shard_id], "blob": [flt.to_bytes()],
                    "rows": [int(right["rows"].iloc[0])],
                    "inserted": [flt.occupied],
                    "kicks": [flt.kicks], "failures": [flt.failures],
                    "n_ok": [int(ok.sum())],
                }
                if per_key:
                    out["del_keys"] = [keys_arr]
                    out["del_ok"] = [ok]
                return pd.DataFrame(out)
            # keys routed to a shard that never existed: all misses,
            # no blob row (filtered out of new_shards below)
            out = {
                "shard_id": [shard_id], "blob": [None], "rows": [0],
                "inserted": [0], "kicks": [0], "failures": [0],
                "n_ok": [0],
            }
            if per_key:
                out["del_keys"] = [keys_arr]
                out["del_ok"] = [np.zeros(len(keys_arr), dtype=bool)]
            return pd.DataFrame(out)

        routed = deletes.select(key_col)
        if packed:
            from cuckoo_filter_spark.hashing import packed_expr

            routed = routed.withColumn(
                "__packed",
                packed_expr(key_col, self.shard_num_buckets, cfg.bits_per_tag,
                            cfg.bucket_policy),
            )
        merged = (
            routed
            .withColumn("__shard", shard_expr(key_col, self.num_shards))
            .groupBy("__shard")
            .cogroup(self.shards.groupBy(F.col("shard_id").alias("__shard")))
            .applyInPandas(apply_delete, schema=schema)
            .persist()
        )
        results = None
        if per_key:
            results = merged.select(
                F.explode(F.arrays_zip("del_keys", "del_ok")).alias("z")
            ).select(
                F.col("z.del_keys").alias(key_col),
                F.col("z.del_ok").alias("ok"),
            )
        new_shards = merged.filter(F.col("blob").isNotNull()).select(
            "shard_id", "blob", "rows", "inserted", "kicks", "failures"
        )
        # shard geometry is unchanged by deletes — keep the packed
        # JVM fast path alive on the returned filter
        out = ShardedCuckooFilter(
            new_shards, self.num_shards, cfg, key_col,
            shard_num_buckets=self.shard_num_buckets,
        )
        out._delete_src = merged  # release() drops the persisted plan
        return results, out

    def delete_broadcast(
        self, deletes: DataFrame
    ) -> tuple[DataFrame, "ShardedCuckooFilter"]:
        """Zero-sort functional delete for broadcastable state (the
        same regime as :meth:`contains_broadcast`): shard blobs ride
        a broadcast variable, delete keys take ONE Exchange to their
        shard's partition (:func:`place_shards` — no cogroup, so no
        per-partition sort of the key stream), and each task applies
        the batch delete for the shards it owns, emitting
        one row per touched shard (new blob + packed results).
        Untouched shards pass through driver-side. Use :meth:`delete`
        (cogroup-routed) when the filter is too big to broadcast.

        Measured (16M keys, 64 shards ~34 MB state, local[32],
        best-of-3): routed 3.38M deletes/s vs broadcast 2.23M/s —
        the per-call state collect+broadcast costs more than the
        cogroup sort it avoids, so the routed path stays the bench
        default. This path wins when several independent delete sets
        probe the SAME filter snapshot: the collect+broadcast is
        cached on the instance (shards are immutable; delete returns
        a NEW filter) so only the first call pays it. For a long
        stream of mutating micro-batches, use
        ``streaming.membership.stream_apply_ops`` — state there
        lives on the executors and is never re-shipped."""
        if not self._broadcast_guard("delete_broadcast"):
            return self.delete(deletes, per_key=True)
        key_col = self.key_col
        cfg = self.config
        spark = deletes.sparkSession
        num_shards = self.num_shards
        packed = (
            self.shard_num_buckets is not None
            and cfg.bucket_policy in ("xor", "addsub")
        )
        if self._del_state is None:
            full_rows = {
                int(r.shard_id): (
                    bytes(r.blob), int(r.rows), int(r.inserted),
                    int(r.kicks), int(r.failures),
                )
                for r in self.shards.collect()
            }
            # workers only need (blob, rows); metrics stay driver-side
            self._del_state = (
                full_rows,
                spark.sparkContext.broadcast(
                    {sid: (v[0], v[1]) for sid, v in full_rows.items()}
                ),
            )
        full_rows, bc = self._del_state

        schema = StructType([
            StructField("shard_id", LongType()),
            StructField("blob", BinaryType()),
            StructField("rows", LongType()),
            StructField("inserted", LongType()),
            StructField("kicks", LongType()),
            StructField("failures", LongType()),
            StructField("n_ok", LongType()),
            StructField("del_keys", ArrayType(LongType())),
            StructField("del_ok", ArrayType(BooleanType())),
        ])

        def apply_delete(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            per_shard: dict[int, list[tuple[np.ndarray, np.ndarray]]] = {}
            for pdf in it:
                if not len(pdf):
                    continue
                sids = pdf["__shard"].to_numpy(np.int64, copy=False)
                keys = pdf[key_col].to_numpy(np.int64, copy=False)
                vals = (
                    pdf["__packed"].to_numpy(np.int64, copy=False)
                    if packed else keys
                )
                order = np.argsort(sids, kind="stable")
                ss = sids[order]
                bounds = np.flatnonzero(np.r_[True, ss[1:] != ss[:-1]])
                for b0, b1 in zip(bounds, np.r_[bounds[1:], len(ss)]):
                    per_shard.setdefault(int(ss[b0]), []).append(
                        (keys[order[b0:b1]], vals[order[b0:b1]])
                    )
            state = bc.value
            for sid, chunks in per_shard.items():
                keys_arr = np.concatenate([k for k, _ in chunks])
                vals_arr = np.concatenate([v for _, v in chunks])
                if sid in state:
                    flt = CuckooFilter.from_bytes(state[sid][0])
                    ok = (
                        flt.delete_packed(vals_arr) if packed
                        else flt.delete_many(keys_to_unsigned(vals_arr))
                    )
                    yield pd.DataFrame({
                        "shard_id": [sid], "blob": [flt.to_bytes()],
                        "rows": [state[sid][1]], "inserted": [flt.occupied],
                        "kicks": [flt.kicks], "failures": [flt.failures],
                        "n_ok": [int(ok.sum())],
                        "del_keys": [keys_arr], "del_ok": [ok],
                    })
                else:
                    yield pd.DataFrame({
                        "shard_id": [sid], "blob": [None], "rows": [0],
                        "inserted": [0], "kicks": [0], "failures": [0],
                        "n_ok": [0],
                        "del_keys": [keys_arr],
                        "del_ok": [np.zeros(len(keys_arr), dtype=bool)],
                    })

        routed = deletes.select(key_col)
        if packed:
            from cuckoo_filter_spark.hashing import packed_expr

            routed = routed.withColumn(
                "__packed",
                packed_expr(key_col, self.shard_num_buckets, cfg.bits_per_tag,
                            cfg.bucket_policy),
            )
        touched = (
            place_shards(
                routed.withColumn("__shard", shard_expr(key_col, num_shards)),
                F.col("__shard"),
                num_shards,
            )
            .mapInPandas(apply_delete, schema=schema)
            .persist()
        )
        results = touched.select(
            F.explode(F.arrays_zip("del_keys", "del_ok")).alias("z")
        ).select(
            F.col("z.del_keys").alias(key_col), F.col("z.del_ok").alias("ok")
        )
        touched_ids = {
            int(r.shard_id)
            for r in touched.select("shard_id").distinct().collect()
        }
        untouched = [
            (sid, bytearray(v[0]), v[1], v[2], v[3], v[4])
            for sid, v in full_rows.items()
            if sid not in touched_ids
        ]
        new_shards = touched.filter(F.col("blob").isNotNull()).select(
            "shard_id", "blob", "rows", "inserted", "kicks", "failures"
        )
        if untouched:
            extra = spark.createDataFrame(
                untouched,
                "shard_id long, blob binary, rows long, inserted long, "
                "kicks long, failures long",
            )
            new_shards = new_shards.unionByName(extra)
        out = ShardedCuckooFilter(
            new_shards, num_shards, cfg, key_col,
            shard_num_buckets=self.shard_num_buckets,
        )
        out._delete_src = touched
        return results, out

    def delete_success_count(self) -> int:
        """Total successful removals from the delete that produced
        this filter — the Spark analogue of the reference's
        ``deleteMany`` return value (``CuckooFilter.cuh`` returns the
        remaining-occupancy count; ``benchmark_common.cuh:287``
        consumes only that scalar). Aggregates the per-shard ``n_ok``
        column, so it materializes the cogroup WITHOUT exploding the
        per-key result arrays; the per-key outcome DataFrame stays
        lazy for callers that need it."""
        if getattr(self, "_delete_src", None) is None:
            raise ValueError("this filter was not produced by delete()")
        return int(
            self._delete_src.agg(F.sum("n_ok")).collect()[0][0] or 0
        )

    def release(self) -> None:
        """Drop the cached resources backing this filter: the
        persisted delete plan (if this filter came from
        :meth:`delete`) and any broadcast state created by
        :meth:`contains_broadcast` / :meth:`delete_broadcast`."""
        src = getattr(self, "_delete_src", None)
        if src is not None:
            src.unpersist()
            self._delete_src = None
        if self._stacked is not None:
            self._stacked[0].unpersist()
            self._stacked = None
        if self._del_state is not None:
            self._del_state[1].unpersist()
            self._del_state = None

    # -- aggregates (CuckooFilterMultiGPU.cuh:520-592) --------------------

    def metrics(self) -> DataFrame:
        return self.shards.agg(
            F.sum("rows").alias("rows"),
            F.sum("inserted").alias("occupied"),
            F.sum("kicks").alias("kicks"),
            F.sum("failures").alias("failures"),
            F.count("*").alias("num_shards"),
        )

    def total_occupied(self) -> int:
        """Parallel-sum of shard occupancy
        (``CuckooFilterMultiGPU.cuh:558-565``)."""
        return self.metrics().collect()[0]["occupied"]


@dataclass
class ShardedOffsetFilter:
    """Distributed OffsetAltBucketPolicy filter
    (``bucket_policies.cuh:190-351``): disjoint key-sharded
    :class:`~cuckoo_filter_spark.core.offset.OffsetCuckooFilter`
    blobs, same multisplit → all2all → local-op dataflow as
    :class:`ShardedCuckooFilter`. Offset addressing has no JVM
    packing twin (the choice-bit fp mutates on relocation), so build
    and probe ship the 8-byte keys — still a single Exchange each,
    with state living on executors."""

    shards: DataFrame
    num_shards: int
    key_col: str = "key"
    #: broadcast-lane size guard — same contract as
    #: :attr:`ShardedCuckooFilter.max_broadcast_bytes`: past this
    #: many serialized blob bytes, :meth:`contains_broadcast` falls
    #: back to the shard-routed :meth:`contains` (or raises, per
    #: ``on_oversize_broadcast``) instead of collecting every shard
    #: blob onto the driver.
    max_broadcast_bytes: int = 512 << 20
    #: "fallback" (default) routes the op instead; "raise" errors.
    on_oversize_broadcast: str = "fallback"
    _blob_bytes: object = None  # cached total blob bytes (size guard)

    def persist(self) -> "ShardedOffsetFilter":
        self.shards = self.shards.persist()
        return self

    def total_blob_bytes(self) -> int:
        """Total serialized filter bytes across shards (one cheap
        aggregate; cached — shards are immutable)."""
        if self._blob_bytes is None:
            object.__setattr__(
                self, "_blob_bytes",
                int(
                    self.shards.agg(
                        F.sum(F.length("blob")).alias("b")
                    ).collect()[0]["b"] or 0
                ),
            )
        return self._blob_bytes

    def _broadcast_guard(self, op: str) -> bool:
        return _check_broadcast_size(self, op)

    @staticmethod
    def build(
        df: DataFrame,
        key_col: str,
        capacity: int,
        num_shards: int,
        bits_per_tag: int = 16,
        bucket_size: int = 4,
    ) -> "ShardedOffsetFilter":
        from cuckoo_filter_spark.core.offset import OffsetCuckooFilter

        per_shard_cap = int(math.ceil(capacity / num_shards * OVERPROVISION))

        def build_shards(batches: "Iterator[pd.DataFrame]"):
            from cuckoo_filter_spark.hashing import xxhash64_u64

            per_shard: dict[int, list[np.ndarray]] = {}
            for pdf in batches:
                if not len(pdf):
                    continue
                keys = _keys_from_pdf(pdf, key_col)
                sids = xxhash64_u64(keys, seed=42).view(np.int64) % num_shards
                order = np.argsort(sids, kind="stable")
                sk, ss = keys[order], sids[order]
                bounds = np.flatnonzero(np.r_[True, ss[1:] != ss[:-1]])
                for b0, b1 in zip(bounds, np.r_[bounds[1:], len(ss)]):
                    per_shard.setdefault(int(ss[b0]), []).append(sk[b0:b1])
            for sid, chunks in per_shard.items():
                flt = OffsetCuckooFilter(
                    per_shard_cap, bits_per_tag=bits_per_tag,
                    bucket_size=bucket_size,
                )
                rows = 0
                inserted = 0
                for chunk in chunks:
                    rows += len(chunk)
                    inserted += int(flt.insert_many(chunk).sum())
                yield pd.DataFrame({
                    "shard_id": [sid], "blob": [flt.to_bytes()],
                    "rows": [rows], "inserted": [inserted],
                    "kicks": [flt.kicks], "failures": [flt.failures],
                })

        keys = _non_null_keys(df, key_col).select(F.col(key_col))
        shards = place_shards(
            keys, shard_expr(key_col, num_shards), num_shards
        ).mapInPandas(build_shards, schema=_SHARD_SCHEMA)
        return ShardedOffsetFilter(shards, num_shards, key_col)

    def contains(self, queries: DataFrame, out_col: str = "member") -> DataFrame:
        """Shard-routed batch membership (key → bool); per-shard
        list-column results exploded JVM-side (see
        :meth:`ShardedCuckooFilter._routed`)."""
        from cuckoo_filter_spark.core.offset import OffsetCuckooFilter

        key_col = self.key_col
        pack_schema = StructType([
            StructField("__keys", ArrayType(LongType())),
            StructField("__res", ArrayType(BooleanType())),
        ])

        def probe(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if len(left) == 0:
                # dtype=object, NOT the float64 pandas defaults for
                # empty columns — Arrow cannot convert float64 to the
                # list<int64>/list<bool> output schema (hit whenever a
                # shard receives zero probe keys)
                return pd.DataFrame({
                    "__keys": pd.Series([], dtype=object),
                    "__res": pd.Series([], dtype=object),
                })
            if len(right) == 0:
                res = np.zeros(len(left), dtype=bool)
            else:
                flt = OffsetCuckooFilter.from_bytes(right["blob"].iloc[0])
                res = flt.contains_many(_keys_from_pdf(left, key_col))
            return pd.DataFrame({
                "__keys": [left[key_col].to_numpy(np.int64, copy=False)],
                "__res": [res],
            })

        return (
            queries.select(key_col)
            .withColumn("__shard", shard_expr(key_col, self.num_shards))
            .groupBy("__shard")
            .cogroup(self.shards.groupBy(F.col("shard_id").alias("__shard")))
            .applyInPandas(probe, schema=pack_schema)
            .select(F.explode(F.arrays_zip("__keys", "__res")).alias("z"))
            .select(
                F.col("z.__keys").alias(key_col),
                F.col("z.__res").alias(out_col),
            )
        )

    def contains_broadcast(
        self, queries: DataFrame, out_col: str = "member"
    ) -> DataFrame:
        """Zero-shuffle batched membership: every shard blob is
        broadcast once (offset filters are small per shard — the
        whole point of sharding) and each task routes its keys to
        the right shard locally, mirroring
        :meth:`ShardedCuckooFilter.contains_broadcast`. Use when the
        probe stream dwarfs the filter; the routed :meth:`contains`
        is the path when the filter dwarfs executor memory. Guarded
        by :attr:`max_broadcast_bytes` exactly like the main filter:
        oversized state falls back to the routed lane (identical
        answers) or raises, per ``on_oversize_broadcast``."""
        from cuckoo_filter_spark.core.offset import OffsetCuckooFilter

        if not self._broadcast_guard("contains_broadcast"):
            # routed fallback with the broadcast lane's output shape
            # (all query columns kept + out_col): probe the distinct
            # keys, join the answers back on
            probes = queries.select(self.key_col).distinct()
            res = self.contains(probes, out_col)
            return queries.join(res, self.key_col)

        spark = queries.sparkSession
        key_col = self.key_col
        num_shards = self.num_shards
        blobs = {
            int(r.shard_id): bytes(r.blob)
            for r in self.shards.select("shard_id", "blob").collect()
        }
        bc = spark.sparkContext.broadcast(blobs)

        @F.pandas_udf(BooleanType())
        def member(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            from cuckoo_filter_spark.hashing import xxhash64_u64

            filters = {
                sid: OffsetCuckooFilter.from_bytes(b)
                for sid, b in bc.value.items()
            }
            for s in batches:
                keys = s.to_numpy(np.int64, copy=False).view(np.uint64)
                sids = xxhash64_u64(keys, seed=42).view(np.int64) % num_shards
                res = np.zeros(len(keys), dtype=bool)
                order = np.argsort(sids, kind="stable")
                sk, ss = keys[order], sids[order]
                bounds = np.flatnonzero(np.r_[True, ss[1:] != ss[:-1]])
                for b0, b1 in zip(bounds, np.r_[bounds[1:], len(ss)]):
                    flt = filters.get(int(ss[b0]))
                    if flt is not None:
                        res[order[b0:b1]] = flt.contains_many(sk[b0:b1])
                yield pd.Series(res)

        return queries.withColumn(out_col, member(F.col(key_col)))

    def delete(
        self, deletes: DataFrame
    ) -> tuple[DataFrame, "ShardedOffsetFilter"]:
        """Functional shard-routed batch delete, completing the
        reference's per-policy op set for Offset addressing
        (``deleteMany`` over ``OffsetAltBucketPolicy``,
        ``bucket_policies.cuh:190-351``): one cogroup pass
        per-shard, multiset semantics with fp choice-bit flips
        handled by the core kernel. Returns (per-key success DF,
        new filter)."""
        from cuckoo_filter_spark.core.offset import OffsetCuckooFilter

        key_col = self.key_col
        schema = StructType([
            StructField("shard_id", LongType()),
            StructField("blob", BinaryType()),
            StructField("rows", LongType()),
            StructField("inserted", LongType()),
            StructField("kicks", LongType()),
            StructField("failures", LongType()),
            StructField("n_ok", LongType()),
            StructField("del_keys", ArrayType(LongType())),
            StructField("del_ok", ArrayType(BooleanType())),
        ])

        def apply_delete(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            shard_id = int(key[0])
            keys_arr = left[key_col].to_numpy(np.int64, copy=False)
            if len(right):
                flt = OffsetCuckooFilter.from_bytes(right["blob"].iloc[0])
                ok = (
                    flt.delete_many(_keys_from_pdf(left, key_col))
                    if len(left) else np.zeros(0, dtype=bool)
                )
                return pd.DataFrame({
                    "shard_id": [shard_id], "blob": [flt.to_bytes()],
                    "rows": [int(right["rows"].iloc[0])],
                    "inserted": [flt.occupied],
                    "kicks": [flt.kicks], "failures": [flt.failures],
                    "n_ok": [int(ok.sum())],
                    "del_keys": [keys_arr], "del_ok": [ok],
                })
            return pd.DataFrame({
                "shard_id": [shard_id], "blob": [None], "rows": [0],
                "inserted": [0], "kicks": [0], "failures": [0],
                "n_ok": [0], "del_keys": [keys_arr],
                "del_ok": [np.zeros(len(keys_arr), dtype=bool)],
            })

        merged = (
            deletes.select(key_col)
            .withColumn("__shard", shard_expr(key_col, self.num_shards))
            .groupBy("__shard")
            .cogroup(self.shards.groupBy(F.col("shard_id").alias("__shard")))
            .applyInPandas(apply_delete, schema=schema)
            .persist()
        )
        results = merged.select(
            F.explode(F.arrays_zip("del_keys", "del_ok")).alias("z")
        ).select(
            F.col("z.del_keys").alias(key_col), F.col("z.del_ok").alias("ok")
        )
        new_shards = merged.filter(F.col("blob").isNotNull()).select(
            "shard_id", "blob", "rows", "inserted", "kicks", "failures"
        )
        out = ShardedOffsetFilter(new_shards, self.num_shards, key_col)
        out._delete_src = merged  # release() drops the persisted plan
        return results, out

    def delete_success_count(self) -> int:
        """Total successful removals from the delete that produced
        this filter (scalar ``deleteMany`` return contract — see
        :meth:`ShardedCuckooFilter.delete_success_count`)."""
        if getattr(self, "_delete_src", None) is None:
            raise ValueError("this filter was not produced by delete()")
        return int(
            self._delete_src.agg(F.sum("n_ok")).collect()[0][0] or 0
        )

    def release(self) -> None:
        """Unpersist the cached delete plan backing this filter (if
        any)."""
        src = getattr(self, "_delete_src", None)
        if src is not None:
            src.unpersist()
            self._delete_src = None

    def metrics(self) -> DataFrame:
        return self.shards.agg(
            F.sum("rows").alias("rows"),
            F.sum("inserted").alias("occupied"),
            F.sum("kicks").alias("kicks"),
            F.sum("failures").alias("failures"),
            F.count("*").alias("num_shards"),
        )
