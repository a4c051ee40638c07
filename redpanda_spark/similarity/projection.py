"""Sign random projection — embedding dimensionality reduction.

Public method (Achlioptas 2003, "Database-friendly random projections";
the SimHash/SRP family): project d-dim embeddings onto k pseudo-random
±1 hyperplanes. Distances are preserved in expectation
(Johnson-Lindenstrauss), so ANN/dedup stages downstream run on k ≪ d
components — at 100 TB the projection is the difference between
shuffling 64 floats and 8 per vector through every LSH/cluster stage.

Determinism: the sign matrix is a pure function of (i, j, seed) via the
Knuth multiplicative hash — no RNG state, so any engine (and the DuckDB
oracle) regenerates the identical matrix. Inputs are quantized to
integer milli-units before the fold, making every projected component
an exact integer sum — bit-identical across engines and summation
orders, the same exactness trick the quality classifier uses.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _sign(i: int, j: int, dim: int, seed: int) -> int:
    # md5 for real avalanche: multiplicative-hash parities left rows
    # CORRELATED (measured: pairwise-cosine corr stuck at 0.23 while a
    # true random matrix reached 0.58 at k=32 — lattice structure of
    # (a*K mod p)). The matrix is built driver-side and inlined as
    # literals into both the Spark expression and the SQL oracle, so the
    # hash never needs to run inside either engine.
    import hashlib

    h = hashlib.md5(f"{seed}:{i}:{j}".encode()).digest()
    return 1 if h[0] % 2 == 0 else -1


def sign_matrix(k: int, dim: int, seed: int = 0) -> np.ndarray:
    return np.array(
        [[_sign(i, j, dim, seed) for j in range(dim)] for i in range(k)],
        dtype=np.int64,
    )


def project_expr(
    emb: DataFrame, k: int, dim: int, vec_col: str = "embedding", seed: int = 0
) -> DataFrame:
    """Adds ``proj`` array<long>: k exact integer components
    sum_j round(v_j*1000) * sign(i,j)."""
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * 1000).cast("long"),
    )
    comps = []
    for i in range(k):
        signs = F.array(
            *[F.lit(_sign(i, j, dim, seed)) for j in range(dim)]
        )
        comps.append(
            F.aggregate(
                F.zip_with(q, signs, lambda x, s: x * s),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        )
    return emb.withColumn("proj", F.array(*comps))
