"""Seeded benchmark inputs: sha256-derived int64 keys written to parquet.

Positive keys are the first eight bytes (big-endian, signed) of
``sha256(b"cfs:<seed>:pos:<i>")``; negative keys use ``neg`` in the
content string, so the two sets are disjoint unless two sha256 prefixes
collide, which :meth:`KeyJob.result` checks. The same seed always yields the
same keys. Inputs are built here, not through the package's ``sources``
module, so a change to the package cannot change what it is fed: the
program under test receives only parquet files.
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


class KeyJob:
    """Key hashing spread over ``procs`` worker processes
    (``perfbench/keyhash.py``), started before the Spark session so
    that both proceed at once (give the workers about half the cores:
    the JVM's start-up is multi-threaded too). :meth:`result` waits for
    them; :meth:`close` kills and waits for any still running. Each
    worker hashes one slice of the positives and one of the negatives
    into its own file under ``work``."""

    def __init__(self, seed: int, n_pos: int, n_neg: int, procs: int, work: str):
        os.makedirs(work, exist_ok=True)
        script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "keyhash.py")
        #: per worker: its output file and its (kind, lo, hi) slices
        self.jobs = []
        for i in range(procs):
            slices = []
            for kind, n in (("pos", n_pos), ("neg", n_neg)):
                step = -(-n // procs)
                slices.append((kind, min(i * step, n), min((i + 1) * step, n)))
            self.jobs.append((os.path.join(work, f"keys-{i}.bin"), slices))
        self.procs = [
            subprocess.Popen([sys.executable, script, str(seed), out,
                              *(str(x) for s in slices for x in s)])
            for out, slices in self.jobs
        ]

    def result(self) -> dict[str, np.ndarray]:
        for p in self.procs:
            if p.wait() != 0:
                raise RuntimeError(f"key hashing worker exited with {p.returncode}")
        parts = {"pos": [], "neg": []}
        for out, slices in self.jobs:
            with open(out, "rb") as f:
                data = np.frombuffer(f.read(), dtype=">i8").astype(np.int64)
            os.remove(out)
            at = 0
            for kind, lo, hi in slices:
                parts[kind].append(data[at:at + hi - lo])
                at += hi - lo
        keys = {kind: np.concatenate(p) for kind, p in parts.items()}
        both = np.concatenate([keys["pos"], keys["neg"]])
        if len(np.unique(both)) != len(both):
            raise RuntimeError("sha256 key prefixes collided; use another seed")
        return keys

    def close(self) -> None:
        for p in self.procs:
            if p.poll() is None:
                p.kill()
            p.wait()


def write_table(path: str, columns: dict[str, np.ndarray], files: int) -> str:
    """Write ``columns`` as ``files`` parquet files under ``path``, one
    row group each, so a scan splits once per file."""
    os.makedirs(path, exist_ok=True)
    n = len(next(iter(columns.values())))
    step = max(1, -(-n // files))
    for part, lo in enumerate(range(0, max(n, 1), step)):
        table = pa.table({k: v[lo:lo + step] for k, v in columns.items()})
        pq.write_table(table, f"{path}/part-{part:05d}.parquet",
                       row_group_size=max(1, step))
    return path
