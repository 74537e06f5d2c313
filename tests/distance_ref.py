"""Pure-Python float64 reference for the exact-distance functions: every
Σ is a left fold from 0.0 over Python floats. A null array, a null
element or a length mismatch gives None; ``normalize`` of an array
holding a null gives an all-None array of the same length."""

from __future__ import annotations

import math

UNARY = ("norm", "normalize")
BINARY = ("l2_squared", "l2", "dot", "cosine", "cosine_distance")


def _fold(terms) -> float:
    acc = 0.0
    for t in terms:
        acc += t
    return acc


def ref(op: str, a, b=None):
    args = [a] if op in UNARY else [a, b]
    if any(v is None for v in args):
        return None
    if any(x is None for v in args for x in v) or len({len(v) for v in args}) > 1:
        return [None] * len(a) if op == "normalize" else None
    if op in ("l2_squared", "l2"):
        s = _fold((x - y) * (x - y) for x, y in zip(a, b))
        return math.sqrt(s) if op == "l2" else s
    if op == "dot":
        return _fold(x * y for x, y in zip(a, b))
    na = math.sqrt(_fold(x * x for x in a))
    if op == "norm":
        return na
    if op == "normalize":
        inv = 1.0 / na if na != 0.0 else 1.0
        return [x * inv for x in a]
    nb = math.sqrt(_fold(y * y for y in b))
    cos = 0.0 if na == 0.0 or nb == 0.0 else _fold(x * y for x, y in zip(a, b)) / (na * nb)
    return cos if op == "cosine" else max(1.0 - cos, 0.0)
