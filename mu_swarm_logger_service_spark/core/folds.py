"""SQL text for the engine's DOUBLE array sums.

Every Σ over an array — dot products and norms, slice sums, entropy,
chi² and ANOVA terms — is one sequential left fold
``aggregate(arr, 0.0D, (acc, x) -> acc + (term))``.  The addition order
is the array order on every engine and every run (a SUM over exploded
elements would re-associate across the shuffle), and the oracles mirror
it with a zero-seeded ``list_reduce``.

The functions return SQL text, so a fold composes inside ``spark.sql``
text and inside outer ``transform`` lambdas; a Column call site wraps the
whole expression in one ``F.expr`` — one parser round-trip, where the
same tree built from Column lambdas cost ~105 ms of py4j construction per
cosine.
"""

from __future__ import annotations

import re

_SLICE = re.compile(r"slice\(\s*([^,]*?)\s*,\s*(-?\d+)\s*,\s*(\d+)\s*\)")


def _path(expr: str) -> str:
    parts = expr.split(".")
    if not all(p.isidentifier() for p in parts):
        raise ValueError(
            f"expected an identifier path or slice(<path>, <int>, <int>), "
            f"got {expr!r}")
    return ".".join(f"`{p}`" for p in parts)


def operand(expr: str) -> str:
    """Validate and backtick-quote an array operand: an identifier path
    (``qe``, or a lambda field ``c.ce``) or ``slice(<path>, <int>,
    <int>)``.  Anything else raises ValueError — the operand is
    interpolated into SQL text, where a spaced, dotted-garbage or
    Column-str() name would silently mis-parse."""
    if not isinstance(expr, str):
        raise ValueError(f"expected an operand string, got {expr!r}")
    m = _SLICE.fullmatch(expr)
    if m:
        return f"slice({_path(m[1])}, {int(m[2])}, {int(m[3])})"
    return _path(expr)


def fsum(arr: str, term: str = "x", var: str = "x") -> str:
    """Σ ``term`` over the elements of ``arr`` (SQL array text), each
    bound to the lambda variable ``var``: a left fold seeded with
    ``0.0D``.  ``term`` is a DOUBLE SQL expression; nested folds need
    distinct ``var`` names."""
    if not (isinstance(arr, str) and isinstance(term, str)
            and var.isidentifier()):
        raise ValueError(
            f"fsum needs SQL text, got {arr!r}, {term!r}, {var!r}")
    return f"aggregate({arr}, 0.0D, (acc, {var}) -> acc + ({term}))"


def dot(a: str, b: str) -> str:
    """Σ aᵢ·bᵢ in DOUBLE."""
    return fsum(f"zip_with({operand(a)}, {operand(b)}, "
                f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))")


def norm(a: str) -> str:
    """√Σ aᵢ² in DOUBLE."""
    return f"SQRT({fsum(operand(a), 'CAST(x AS DOUBLE) * CAST(x AS DOUBLE)')})"


def cosine(a: str, b: str) -> str:
    """dot / (norm · norm); the caller guarantees non-zero norms."""
    return f"{dot(a, b)} / ({norm(a)} * {norm(b)})"


def cosine0(a: str, b: str) -> str:
    """Zero-norm-safe cosine: similarity to a zero vector is DEFINED as
    0.0 (the neutral "no similarity" convention).  Required wherever a
    zero norm is reachable — e.g. a Matryoshka PREFIX of a non-zero
    vector can be all-zero — because the engines disagree on the
    undefined case (ANSI Spark throws DIVIDE_BY_ZERO, DuckDB's
    list_cosine_similarity clamps to -1.0).  Oracles of callers must
    carry the matching CASE WHEN norm-product = 0 THEN 0.0 guard.  For
    non-zero norms the result is the exact `cosine` division."""
    nprod = f"({norm(a)} * {norm(b)})"
    return (f"CASE WHEN {nprod} != 0.0D THEN {dot(a, b)} / {nprod} "
            f"ELSE 0.0D END")
