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

Lanes: per op, one lane, and one rule for choosing broadcast or
shard-routed — the join question of "To Partition, or Not to
Partition, That is the Join Question in a Real System" (SIGMOD 2021),
with the filter as the build side: ``contains_broadcast`` ships the
filter to every task while its serialized size is at most
``max_broadcast_bytes``, and is shard-routed (state stays on the
executors, probe keys take one Exchange) otherwise. ``contains``,
``counts`` and ``delete`` are shard-routed.

The bucket policy (``CuckooConfig.bucket_policy``) is a parameter of
the one sharded class, as in the reference's one filter class
(``CuckooFilter.cuh:44-74``, ``bucket_policies.cuh``). xor and addsub
ship the JVM-packed ``(i1 << f) | fp`` across the Exchange to
``CuckooFilter.*_packed``; offset, whose choice-bit fingerprint has no
JVM packing twin, ships the raw key to ``OffsetCuckooFilter.*_many``.

Null keys are never inserted, and a null probe key never reaches a
kernel: every lane gives it back, key null, with ``member=False``,
``count=0`` or ``ok=False``.

Shard placement: every stage that hands shards to Python at build
time goes through :func:`place_shards`, which sends shard ``s`` to
partition ``s mod P`` with ``P = min(num_shards,
defaultParallelism)``. As in the reference, the number of local ops
is the number of devices (cores), not the number of shards: each
Python task owns whole shards, none is empty, and none pays the
fixed per-task worker cost for a handful of rows.
``write_bucketed_keys`` keeps its hash repartition into
``num_shards`` partitions, because there the partitioning sets the
file layout, not a Python stage.

Scale notes (100 TB / 1000 executors):
* build is map-side only in merged mode — no shuffle of raw keys;
  the only exchanged bytes are filter blobs (treeReduce).
* sharded mode shuffles only 8 bytes per key, not source rows;
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
from cuckoo_filter_spark.core.offset import OffsetCuckooFilter
from cuckoo_filter_spark.hashing import keys_to_unsigned, packed_expr

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


def _kernel(cfg: CuckooConfig):
    """The core filter class the bucket policy runs on."""
    return OffsetCuckooFilter if cfg.bucket_policy == "offset" else CuckooFilter


def _new_filter(capacity: int, cfg: CuckooConfig):
    if cfg.bucket_policy == "offset":
        return OffsetCuckooFilter(
            capacity, bits_per_tag=cfg.bits_per_tag,
            bucket_size=cfg.bucket_size, max_kicks=cfg.max_kicks,
        )
    return CuckooFilter(capacity, cfg)


def _per_shard_cap(capacity: int, num_shards: int) -> int:
    return int(math.ceil(capacity / num_shards * OVERPROVISION))


def _shard_runs(keys: np.ndarray, num_shards: int):
    """(shard id, positions) runs of uint64 ``keys`` under the seed-42
    router, bit-exact with :func:`shard_expr`; positions keep input
    order within a shard."""
    from cuckoo_filter_spark.hashing import xxhash64_u64

    if not len(keys):
        return
    sids = xxhash64_u64(keys, seed=42).view(np.int64) % num_shards
    order = np.argsort(sids, kind="stable")
    ss = sids[order]
    bounds = np.flatnonzero(np.r_[True, ss[1:] != ss[:-1]])
    for b0, b1 in zip(bounds, np.r_[bounds[1:], len(ss)]):
        yield int(ss[b0]), order[b0:b1]


def _not_for_offset(cfg: CuckooConfig, op: str) -> None:
    """Up-front error for an op the offset kernel lacks."""
    if cfg.bucket_policy == "offset":
        raise NotImplementedError(
            f"{op} is not available for the offset policy: "
            "OffsetCuckooFilter has no count op, and its choice-bit "
            "fingerprint has no JVM-packed layout"
        )


def _member_column(member, key_col: str):
    """Apply a broadcast membership UDF under the null contract. A
    null in an Arrow batch turns the whole int64 batch into float64
    in pandas, which rounds every key past 2^53, so the UDF only
    ever sees non-null keys and a null key answers False."""
    key = F.col(key_col)
    return F.when(key.isNull(), F.lit(False)).otherwise(
        member(F.coalesce(key, F.lit(0).cast("long")))
    )


def _arrow_shard_builder(
    per_shard_cap: int, cfg: CuckooConfig, shard_shift: int
):
    """mapInArrow worker: group packed batches by shard and run
    placement-only inserts (the hash chain already ran in codegen).
    Arrow in/out — no pandas boxing on the hot path. The input is
    ONE column carrying ``(shard << shard_shift) | (i1 << f) | fp``."""

    def build_shards(batches):
        import pyarrow as pa

        local_mask = np.int64((1 << shard_shift) - 1)
        per_shard: dict[int, list[np.ndarray]] = {}
        for rb in batches:
            if rb.num_rows == 0:
                continue
            v = rb.column(0).to_numpy(zero_copy_only=False)
            sids = v >> np.int64(shard_shift)
            packed = v & local_mask
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
) -> int:
    """Bit position of the shard id in the single-long packed layout
    ``(shard << shift) | (i1 << f) | fp``. Raises when
    shard+bucket+tag exceed 62 bits (past ~2^40 buckets per shard at
    f=16). Splitting the same capacity over more shards moves bits
    from the bucket index to the shard id without freeing any, so
    the way out is a smaller filter per build or a narrower tag."""
    nb = cfg.num_buckets_for(per_shard_cap)
    shift = cfg.bits_per_tag + (nb - 1).bit_length()
    shard_bits = max(1, (num_shards - 1).bit_length())
    if shift + shard_bits > 62:
        raise ValueError(
            f"packed layout needs {shard_bits} shard + "
            f"{shift - cfg.bits_per_tag} bucket + {cfg.bits_per_tag} tag "
            "bits, over the 62 that fit in one long: more shards do "
            "not help (each shard bit halves the buckets per shard); "
            "split the keys over several filters or use a narrower tag"
        )
    return shift


def _packed_keys(
    df: DataFrame, key_col: str, num_shards: int, per_shard_cap: int,
    cfg: CuckooConfig,
):
    """The non-null keys of ``df`` as ONE JVM-packed long each,
    ``__packed = (shard << shift) | (i1 << f) | fp`` (pow2 xor and
    even addsub bucket counts both fit), with the Column that reads
    the shard id back and ``shift``."""
    shift = _packed_shard_shift(per_shard_cap, num_shards, cfg)
    one = F.shiftleft(shard_expr(key_col, num_shards), shift).bitwiseOR(
        packed_expr(key_col, cfg.num_buckets_for(per_shard_cap),
                    cfg.bits_per_tag, cfg.bucket_policy)
    )
    packed = _non_null_keys(df, key_col).select(one.alias("__packed"))
    return packed, F.shiftrightunsigned(F.col("__packed"), shift), shift


# ---------------------------------------------------------------------------
# merged mode
# ---------------------------------------------------------------------------


class DistributedCuckooFilter:
    """Build one mergeable filter from a DataFrame key column."""

    def __init__(self, filter_: CuckooFilter):
        self.filter = filter_
        self._bc = None

    # -- build ----------------------------------------------------------

    @staticmethod
    def build(
        df: DataFrame,
        key_col: str,
        capacity: int,
        config: Optional[CuckooConfig] = None,
        fan_in: int = 8,
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
        return DistributedCuckooFilter(
            aggregate_sketch(
                df, key_col, lambda: CuckooFilter(capacity, cfg),
                fan_in=fan_in,
            )
        )

    # -- query ----------------------------------------------------------

    def _broadcast(self, spark: SparkSession):
        if self._bc is None:
            self._bc = spark.sparkContext.broadcast(self.filter.to_bytes())
        return self._bc

    def contains_udf(self, spark: SparkSession):
        """Vectorized membership UDF against the broadcast blob
        (containsMany, ``CuckooFilter.cuh:518-523``). Iterator form
        deserializes the blob once per task, not per batch. Takes
        non-null keys; :meth:`contains` applies the null contract."""
        bc = self._broadcast(spark)

        @F.pandas_udf(BooleanType())
        def member(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            flt = CuckooFilter.from_bytes(bc.value)
            for s in batches:
                keys = keys_to_unsigned(s.to_numpy(dtype=np.int64, copy=False))
                yield pd.Series(flt.contains_many(keys))

        return member

    def contains(self, df: DataFrame, key_col: str, out_col: str = "member") -> DataFrame:
        member = self.contains_udf(df.sparkSession)
        return df.withColumn(out_col, _member_column(member, key_col))

    @property
    def config(self) -> CuckooConfig:
        return self.filter.config

    def delete_local(self, keys_i64: np.ndarray) -> np.ndarray:
        """Driver-side batch delete against the merged filter (the
        merged filter lives on the driver by construction). For
        distributed deletes at scale use :class:`ShardedCuckooFilter`.
        Invalidates the broadcast blob."""
        self._bc = None
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


@dataclass
class ShardedCuckooFilter:
    """A filter kept as a DataFrame of disjoint key-sharded blobs.

    ``shards`` schema: (shard_id, blob, rows, inserted, kicks,
    failures). State stays distributed; queries and deletes shuffle
    only 8 bytes per key to the owning shard. ``config.bucket_policy``
    picks the kernel (module docstring).
    """

    shards: DataFrame
    num_shards: int
    config: CuckooConfig
    key_col: str = "key"
    #: per-shard bucket count (known at build time); enables JVM-side
    #: candidate packing for routed ops. None for externally loaded
    #: shard sets.
    shard_num_buckets: Optional[int] = None
    #: the lane rule's threshold (module docstring): past this many
    #: blob bytes ``contains_broadcast`` is shard-routed
    max_broadcast_bytes: int = 512 << 20
    #: "fallback" (default) routes the op instead; "raise" errors.
    on_oversize_broadcast: str = "fallback"
    #: cached broadcast state: (broadcast, nb, bs, dtype_name) for the
    #: stacked xor probe, (broadcast,) for the per-shard probe
    _stacked: object = None
    _blob_bytes: object = None  # cached total blob bytes (size guard)

    @staticmethod
    def build(
        df: DataFrame,
        key_col: str,
        capacity: int,
        num_shards: int,
        config: Optional[CuckooConfig] = None,
    ) -> "ShardedCuckooFilter":
        """Key-sharded build: one Exchange to the owning shard's task,
        then a per-shard batch insert (:meth:`_build_packed` for
        xor/addsub, :meth:`_build_keys` for offset)."""
        cfg = config or CuckooConfig()
        make = (
            ShardedCuckooFilter._build_keys if cfg.bucket_policy == "offset"
            else ShardedCuckooFilter._build_packed
        )
        return make(
            df, key_col, num_shards, cfg, _per_shard_cap(capacity, num_shards)
        )

    @staticmethod
    def _build_keys(
        df: DataFrame, key_col: str, num_shards: int, cfg: CuckooConfig,
        per_shard_cap: int,
    ) -> "ShardedCuckooFilter":
        """Key-shipping build: the Exchange carries the raw 8-byte
        key and the policy's kernel hashes it (``insert_many``). The
        offset policy's build; with an xor/addsub config it is the
        reference the packed build must match bit for bit."""

        def build_shards(batches: "Iterator[pd.DataFrame]"):
            # one partition holds several whole shards (place_shards
            # sends shard s to partition s mod P); group pandas-side —
            # this avoids the sort groupBy().applyInPandas() would
            # inject, so the Exchange is the only data movement, and
            # it carries ONLY the 8-byte key: the shard id is
            # recomputed from the key in numpy (bit-exact with the
            # JVM router).
            per_shard: dict[int, list[np.ndarray]] = {}
            for pdf in batches:
                keys = _keys_from_pdf(pdf, key_col)
                for sid, idx in _shard_runs(keys, num_shards):
                    per_shard.setdefault(sid, []).append(keys[idx])
            for sid, chunks in per_shard.items():
                flt = _new_filter(per_shard_cap, cfg)
                rows = 0
                inserted = 0
                for chunk in chunks:
                    rows += len(chunk)
                    inserted += int(flt.insert_many(chunk).sum())
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
        bytes). The Python stage is pure placement
        (``insert_packed``). Same filters bit-for-bit as the
        key-shipping build (chained hash family parity)."""
        packed, shard, shard_shift = _packed_keys(
            df, key_col, num_shards, per_shard_cap, cfg
        )
        shards = place_shards(packed, shard, num_shards).mapInArrow(
            _arrow_shard_builder(
                per_shard_cap, cfg, shard_shift=shard_shift
            ),
            schema=_SHARD_SCHEMA,
        )
        return ShardedCuckooFilter(
            shards, num_shards, cfg, key_col,
            shard_num_buckets=cfg.num_buckets_for(per_shard_cap),
        )

    #: sidecar file recording the packed-layout parameters inside a
    #: write_bucketed_keys table directory
    LAYOUT_SIDECAR = "_cuckoo_layout.json"

    @staticmethod
    def _layout_payload(
        num_shards: int, per_shard_cap: int, cfg: CuckooConfig,
        shard_shift: int,
    ) -> dict:
        return {
            "version": 1,
            "layout": "packed1",
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
        scan → per-task placement with NO Exchange). The layout is
        the single-column ``__packed`` with the shard id riding the
        spare upper bits (8 B/row scanned and shipped to the
        placement workers). Tasks may mix shards; the builder groups
        arrow-side, so file/task alignment is a performance knob,
        not a correctness requirement.

        The packed layout is only decodable with the write-time
        parameters — a mismatched ``capacity``/``num_shards``/
        ``config`` would silently mis-extract shard ids and tags
        (corrupt filter). ``write_bucketed_keys`` therefore records
        the layout in a ``_cuckoo_layout.json`` sidecar; pass
        ``path`` so this build validates its derived layout against
        it and raises on any mismatch instead of corrupting.
        """
        cfg = config or CuckooConfig()
        _not_for_offset(cfg, "build_bucketed")
        per_shard_cap = _per_shard_cap(capacity, num_shards)
        shard_shift = _packed_shard_shift(per_shard_cap, num_shards, cfg)
        if path is not None:
            from cuckoo_filter_spark.sources.parquet_io import (
                read_json_sidecar,
            )

            recorded = read_json_sidecar(
                df.sparkSession, path, ShardedCuckooFilter.LAYOUT_SIDECAR
            )
            if recorded is not None:
                derived = ShardedCuckooFilter._layout_payload(
                    num_shards, per_shard_cap, cfg, shard_shift
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
        shards = df.select("__packed").mapInArrow(
            _arrow_shard_builder(per_shard_cap, cfg, shard_shift=shard_shift),
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
        :meth:`build_bucketed` shuffle-free. The table is a SINGLE
        packed long per key — shard id in the spare upper bits, the
        reference pack-kernel layout (``CuckooFilter.cuh:1185-1207``)
        — so the build scans and ships 8 B/row. A
        ``_cuckoo_layout.json`` sidecar records the layout
        parameters so :meth:`build_bucketed` can validate instead of
        trusting caller-supplied geometry."""
        from cuckoo_filter_spark.sources.parquet_io import write_json_sidecar

        cfg = config or CuckooConfig()
        _not_for_offset(cfg, "write_bucketed_keys")
        per_shard_cap = _per_shard_cap(capacity, num_shards)
        packed, shard, shard_shift = _packed_keys(
            df, key_col, num_shards, per_shard_cap, cfg
        )
        packed.repartition(num_shards, shard).write.mode("overwrite").parquet(
            path
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
            self._blob_bytes = int(
                self.shards.agg(F.sum(F.length("blob"))).collect()[0][0] or 0
            )
        return self._blob_bytes

    def _broadcast_guard(self) -> bool:
        """The lane rule: True when the broadcast lane may proceed (or
        its broadcast already exists); otherwise warn and return False
        so the caller routes, or raise, per ``on_oversize_broadcast``.
        The size aggregate is cached (shards are immutable)."""
        if self._stacked is not None:
            return True
        if not self.shards.is_cached:
            # the size aggregate materializes the shard state; cache it
            # so the broadcast collect (or the routed fallback) reads the
            # built filter instead of rebuilding it
            self.persist()
        size = self.total_blob_bytes()
        if size <= self.max_broadcast_bytes:
            return True
        msg = (
            f"contains_broadcast: filter state is {size >> 20} MiB "
            f"serialized, over the {self.max_broadcast_bytes >> 20} MiB "
            "broadcast guard"
        )
        if self.on_oversize_broadcast == "raise":
            raise ValueError(
                f"{msg} — use the shard-routed op (state stays on "
                "executors), or raise max_broadcast_bytes if the cluster "
                "can take it"
            )
        import warnings

        warnings.warn(
            f"{msg}; falling back to the shard-routed lane (set "
            "on_oversize_broadcast='raise' or raise max_broadcast_bytes "
            "to override)",
            RuntimeWarning,
            stacklevel=3,
        )
        return False

    # -- routed batch ops -------------------------------------------------

    @property
    def _packed(self) -> bool:
        """Routed ops ship the JVM-packed ``(i1 << f) | fp`` and run
        the ``*_packed`` kernels; otherwise the raw key and
        ``*_many``."""
        return (
            self.shard_num_buckets is not None
            and self.config.bucket_policy != "offset"
        )

    def _route(self, df: DataFrame) -> DataFrame:
        """The non-null keys of ``df`` (with packed candidates when the
        policy packs), grouped by shard and cogrouped with the shard
        state, ready for ``applyInPandas``."""
        key_col = self.key_col
        routed = _non_null_keys(df.select(key_col), key_col)
        if self._packed:
            cfg = self.config
            routed = routed.withColumn(
                "__packed",
                packed_expr(key_col, self.shard_num_buckets, cfg.bits_per_tag,
                            cfg.bucket_policy),
            )
        return routed.withColumn(
            "__shard", shard_expr(key_col, self.num_shards)
        ).groupBy("__shard").cogroup(
            self.shards.groupBy(F.col("shard_id").alias("__shard"))
        )

    def _null_answers(self, df: DataFrame, out_col: str, value) -> DataFrame:
        """The null-keyed rows of ``df``, answered ``value`` without
        reaching a kernel."""
        key = F.col(self.key_col)
        return df.where(key.isNull()).select(key, value.alias(out_col))

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
        res_spark_type = res_spark_type or BooleanType()
        packed = self._packed
        kernel = _kernel(self.config)

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
                flt = kernel.from_bytes(right["blob"].iloc[0])
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

        return (
            self._route(queries)
            .applyInPandas(probe, schema=pack_schema)
            .select(F.explode(F.arrays_zip("__keys", "__res")).alias("z"))
            .select(
                F.col("z.__keys").alias(key_col),
                F.col("z.__res").alias(out_col),
            )
            .unionByName(self._null_answers(
                queries, out_col, F.lit(0).cast(res_spark_type)
            ))
        )

    def contains(self, queries: DataFrame, out_col: str = "member") -> DataFrame:
        """Batched membership, shard-routed (returns key → bool)."""
        return self._routed(queries, "contains", out_col)

    def counts(self, queries: DataFrame, out_col: str = "count") -> DataFrame:
        """Batched exact counting query, shard-routed (key → stored
        multiplicity) — the counting-structure surface the reference
        benchmarks against GQF (``benchmark/fpr_benchmark.cu:
        294-348``, ``benchmark/kmer_benchmark.cu:259-355``): inserts
        are multiset (each duplicate occupies a slot), this returns
        the per-key instance count, and multiset deletes decrement
        it. Over-counts only on full fingerprint+bucket-pair
        collisions (probability ≈ the membership FPR)."""
        _not_for_offset(self.config, "counts")
        return self._routed(
            queries, "count", out_col,
            res_spark_type=LongType(), res_np_dtype=np.int64,
        )

    def contains_broadcast(
        self, queries: DataFrame, key_col: str | None = None,
        out_col: str = "member",
    ) -> DataFrame:
        """Zero-shuffle membership under the lane rule (module
        docstring; oversize state routes, same output). For xor, ALL
        shard blobs are broadcast and stacked into ONE
        (num_shards*num_buckets, bucket_size) array, so a whole Arrow
        batch is answered in a single vectorized pass — per-key shard
        routing (xxhash64 seed 42, bit-exact with the JVM build-time
        router; verified in tests) just offsets the bucket index by
        shard_id*num_buckets. Other policies probe shard by shard
        (:meth:`_per_shard_member`). Appends `out_col` to the query
        DataFrame (all columns kept).
        """
        key_col = key_col or self.key_col
        if not self._broadcast_guard():
            # routed, in this lane's output shape: probe the distinct
            # keys, left-join the answers back onto every query row (a
            # null key matches nothing and answers False)
            res = self._routed(
                queries.select(F.col(key_col).alias(self.key_col)).distinct(),
                "contains", out_col,
            ).withColumnRenamed(self.key_col, key_col)
            return queries.join(res, key_col, "left").select(
                *queries.columns,
                F.coalesce(F.col(out_col), F.lit(False)).alias(out_col),
            )
        spark = queries.sparkSession
        if self.config.bucket_policy != "xor":
            return queries.withColumn(
                out_col, _member_column(self._per_shard_member(spark), key_col)
            )
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

        return queries.withColumn(out_col, _member_column(member, key_col))

    def _per_shard_member(self, spark: SparkSession):
        """Broadcast membership UDF for policies without a stacked
        kernel: every shard blob rides one broadcast (cached on the
        instance), and each batch is split by the seed-42 router and
        probed with the policy kernel's ``contains_many`` shard by
        shard."""
        if self._stacked is None:
            blobs = {
                int(r.shard_id): bytes(r.blob)
                for r in self.shards.select("shard_id", "blob").collect()
            }
            self._stacked = (spark.sparkContext.broadcast(blobs),)
        bc = self._stacked[0]
        kernel = _kernel(self.config)
        num_shards = self.num_shards

        @F.pandas_udf(BooleanType())
        def member(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            filters = {
                sid: kernel.from_bytes(b) for sid, b in bc.value.items()
            }
            for s in batches:
                keys = s.to_numpy(np.int64, copy=False).view(np.uint64)
                res = np.zeros(len(keys), dtype=bool)
                for sid, idx in _shard_runs(keys, num_shards):
                    if sid in filters:
                        res[idx] = filters[sid].contains_many(keys[idx])
                yield pd.Series(res)

        return member

    def delete(
        self, deletes: DataFrame, per_key: bool = True
    ) -> tuple[DataFrame | None, "ShardedCuckooFilter"]:
        """Batched delete, shard-routed — the one delete lane. Returns
        (per-key success DF, new filter).

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
        shard rows. A null delete key removes nothing and comes back
        as ``(null, False)``.

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

        fields = _SHARD_SCHEMA.fields + [StructField("n_ok", LongType())]
        if per_key:
            fields += [
                StructField("del_keys", ArrayType(LongType())),
                StructField("del_ok", ArrayType(BooleanType())),
            ]
        schema = StructType(fields)

        packed = self._packed
        kernel = _kernel(cfg)

        def apply_delete(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            keys_arr = left[key_col].to_numpy(np.int64, copy=False)
            ok = np.zeros(len(keys_arr), dtype=bool)
            # keys routed to a shard that never existed: all misses,
            # no blob row (filtered out of new_shards below)
            out = {
                "shard_id": [int(key[0])], "blob": [None], "rows": [0],
                "inserted": [0], "kicks": [0], "failures": [0],
            }
            if len(right):
                flt = kernel.from_bytes(right["blob"].iloc[0])
                if len(left) and packed:
                    ok = flt.delete_packed(
                        left["__packed"].to_numpy(np.int64, copy=False)
                    )
                elif len(left):
                    ok = flt.delete_many(_keys_from_pdf(left, key_col))
                out.update(
                    blob=[flt.to_bytes()], rows=[int(right["rows"].iloc[0])],
                    inserted=[flt.occupied], kicks=[flt.kicks],
                    failures=[flt.failures],
                )
            out["n_ok"] = [int(ok.sum())]
            if per_key:
                out["del_keys"] = [keys_arr]
                out["del_ok"] = [ok]
            return pd.DataFrame(out)

        merged = (
            self._route(deletes)
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
            ).unionByName(self._null_answers(deletes, "ok", F.lit(False)))
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
        :meth:`contains_broadcast`."""
        src = getattr(self, "_delete_src", None)
        if src is not None:
            src.unpersist()
            self._delete_src = None
        if self._stacked is not None:
            self._stacked[0].unpersist()
            self._stacked = None

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
