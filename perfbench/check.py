"""Correctness gate: every answer the benchmark times is checked here.

Top-k answers must equal the scalar oracle (``tests/oracle.py``) in rank
and in float32 score, bit for bit. Builds must pass ``check_segment`` and
match the generator's doc count, token total and per-row content digest.
A check returns a list of problems; an empty list means the answer is
right.
"""

from __future__ import annotations

import numpy as np


def rank(scores: dict, k: int, allowed=None) -> list[tuple[int, float]]:
    """Top-k of a {doc: float32 score} map under the engine's order:
    score descending, then doc id ascending. ``allowed`` restricts docs."""
    items = scores.items()
    if allowed is not None:
        items = [(d, s) for d, s in items if d in allowed]
    ranked = sorted(items, key=lambda kv: (-float(kv[1]), kv[0]))
    return [(int(d), float(s)) for d, s in ranked[:k]]


def compare_topk(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> list[str]:
    """Rank- and float32-identity of two (doc, score) lists."""
    if len(got) != len(want):
        return [f"{len(got)} rows, oracle has {len(want)}"]
    problems = []
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if gd != wd:
            problems.append(f"rank {i}: doc {gd}, oracle doc {wd}")
        elif np.float32(gs).tobytes() != np.float32(ws).tobytes():
            problems.append(f"rank {i}: doc {gd} score {gs!r}, oracle {ws!r}")
    return problems


def compare_build(
    summary: dict, n_docs: int, sum_ttf: int, digests: dict, want_digests: dict
) -> list[str]:
    """A built segment against its generator: ``summary`` is the segment's
    stats (n_docs, sum_ttf); ``digests`` maps doc key -> content_sha256 as
    stored, ``want_digests`` as generated."""
    problems = []
    if summary["n_docs"] != n_docs:
        problems.append(f"n_docs {summary['n_docs']}, generated {n_docs}")
    if summary["sum_ttf"] != sum_ttf:
        problems.append(f"sum_ttf {summary['sum_ttf']}, generated {sum_ttf}")
    if digests != want_digests:
        bad = sum(1 for key, d in want_digests.items() if digests.get(key) != d)
        problems.append(f"{bad} content digests differ or are missing")
    return problems
