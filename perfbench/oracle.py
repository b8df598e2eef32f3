"""Exact references the benchmark checks every result against, and the
failure ledger.

The engine scores ``sim = dot(q / ||q||, v)`` with a left-to-right sum
over dimensions and orders results by similarity descending, then
``doc_id``, then ``position`` (deviations D-1/D-2). ``seq_dot`` and
``normalize`` repeat that arithmetic in float64 NumPy, so a correct
engine matches the reference bit for bit; the 1e-9 tolerance only
absorbs a summation-order change, never a different row.
"""

from __future__ import annotations

import numpy as np

SIM_TOL = 1e-9
SHINGLE = 3  # tokens per shingle, as minhash_lsh_pairs scores them


def normalize(q: np.ndarray) -> np.ndarray:
    """q / ||q||, with the squared norm summed left to right."""
    acc = 0.0
    for x in q.tolist():
        acc += x * x
    n = float(np.sqrt(acc))
    return q.astype(np.float64) if n == 0.0 else np.asarray(q, np.float64) / n


def seq_dot(mat: np.ndarray, qn: np.ndarray) -> np.ndarray:
    """Row-wise dot products summed left to right over dimensions."""
    acc = np.zeros(mat.shape[0])
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j] * qn[j]
    return acc


def topk_order(sims: np.ndarray, *tie_keys: np.ndarray, k: int) -> np.ndarray:
    """Indices of the top ``k`` rows: ``sims`` descending, then each
    tie key ascending."""
    keys = tuple(reversed(tie_keys)) + (-sims,)
    return np.lexsort(keys)[:k]


def compare_topk(got: list[tuple], want: list[tuple]) -> str | None:
    """``got`` and ``want`` are ``[(key, similarity), ...]`` in rank
    order. Returns None when equal, else a one-line reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, want {len(want)}"
    for rank, ((gk, gs), (wk, ws)) in enumerate(zip(got, want)):
        if gk != wk:
            return f"rank {rank}: {gk!r}, want {wk!r}"
        if not abs(gs - ws) <= SIM_TOL:
            return f"rank {rank}: similarity {gs!r}, want {ws!r}"
    return None


def shingle_set(text: str) -> frozenset:
    """Distinct whitespace-token ``SHINGLE``-grams, the shingles dedup
    scores."""
    toks = text.split(" ")
    return frozenset(
        tuple(toks[i : i + SHINGLE]) for i in range(len(toks) - SHINGLE + 1)
    )


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


class Checker:
    """Counts attempted and failed operations; an operation fails when
    it raises or its result disagrees with the reference. Failures are
    recorded, never raised, so a broken run still reports its numbers."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, op: str, reason: str | None) -> bool:
        self.attempted += 1
        if reason is None:
            return True
        self.failed += 1
        if len(self.reasons) < 20:
            self.reasons.append(f"{op}: {reason}")
        return False

    @property
    def failed_frac(self) -> float:
        return self.failed / max(self.attempted, 1)
