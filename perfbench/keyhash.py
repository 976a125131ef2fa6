"""Seeded key hashing, kept free of imports beyond the standard library
so that a worker process starts in a few tens of milliseconds.

    python3 perfbench/keyhash.py <seed> <out> <kind> <lo> <hi> [<kind> <lo> <hi> ...]

writes, for each (kind, lo, hi) in turn, the big-endian 8-byte sha256
prefixes of contents ``lo..hi-1`` to the file ``out``.
"""

from __future__ import annotations

import hashlib
import sys


def hash_keys(seed: int, kind: str, lo: int, hi: int) -> bytes:
    """Big-endian 8-byte sha256 prefixes of ``cfs:<seed>:<kind>:<i>``
    for ``i`` in ``lo..hi-1``."""
    sha = hashlib.sha256
    prefix = f"cfs:{seed}:{kind}:".encode()
    return b"".join(sha(prefix + b"%d" % i).digest()[:8] for i in range(lo, hi))


def main(argv: list[str]) -> int:
    seed, out, parts = int(argv[0]), argv[1], argv[2:]
    with open(out, "wb") as f:
        for j in range(0, len(parts), 3):
            kind, lo, hi = parts[j], int(parts[j + 1]), int(parts[j + 2])
            f.write(hash_keys(seed, kind, lo, hi))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
