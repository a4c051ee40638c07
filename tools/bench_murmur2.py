"""Micro-benchmark for the murmur2 batch kernel on both sides of its
scalar handoff.

``murmur2_flat`` runs numpy rounds over the still-live keys of a batch and
hands the last ``_SCALAR_LIVE_KEYS`` of them to the scalar chunk fold.
The cases below put that handoff early (a few very long keys among many
short ones), late (many keys over 256 B) and in MinHash signature batches
whose shingles are long (URL/base64-like tokens, whole-doc shingles of
documents with fewer than ``shingle_n`` tokens). No Spark session is used.

Usage:
  python tools/bench_murmur2.py [--reps N]

Prints one ``<case>  <best-of-N ms>`` line per case.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa

from redpanda_spark.dedup.minhash import _signature_batch, _splitmix64
from redpanda_spark.functions.hashes import murmur2_flat, string_array_bytes_offsets

_ALPHABET = np.frombuffer(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789+/", dtype=np.uint8
)


def _best_ms(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return 1000 * min(times)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    rng = np.random.default_rng(1)

    def keys_case(keys):
        data, off = string_array_bytes_offsets(pa.array(keys, type=pa.binary()))
        return lambda: murmur2_flat(data, off)

    def token(n: int) -> str:
        return bytes(_ALPHABET[rng.integers(0, 64, n)]).decode()

    short = [rng.bytes(16) for _ in range(10_000)]
    seeds = _splitmix64(np.arange(1, 33, dtype=np.uint64))
    long_token_docs = pa.array(
        [
            " ".join(
                token(int(rng.integers(80, 400))) if rng.random() < 0.5 else token(6)
                for _ in range(40)
            )
            for _ in range(2_000)
        ]
    )
    two_token_docs = pa.array(
        [" ".join(token(int(rng.integers(150, 1000))) for _ in range(2)) for _ in range(5_000)]
    )
    cases = {
        "10k x 16 B": keys_case(short),
        "10k x 16 B + 1 x 4 KiB": keys_case(short + [rng.bytes(4096)]),
        "10k x 16 B + 1 x 64 KiB": keys_case(short + [rng.bytes(65536)]),
        "10k x 300 B": keys_case([rng.bytes(300) for _ in range(10_000)]),
        "10k x 16 B-2 KiB": keys_case(
            [rng.bytes(int(n)) for n in rng.integers(16, 2048, 10_000)]
        ),
        "minhash 2k docs, long tokens": lambda: _signature_batch(
            long_token_docs, 32, 3, seeds
        ),
        "minhash 5k 2-token docs": lambda: _signature_batch(two_token_docs, 32, 3, seeds),
    }
    for name, fn in cases.items():
        print(f"{name:32s} {_best_ms(fn, args.reps):9.1f} ms", flush=True)


if __name__ == "__main__":
    main()
