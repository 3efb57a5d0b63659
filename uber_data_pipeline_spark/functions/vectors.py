"""Vector (embedding) expression builders — JVM-side array math.

Dot products fold left-to-right in index order in BOTH engines
(Spark aggregate(), DuckDB list_sum over an index range) so the
float result is identical; cosine is additionally rounded before any
ranking so rank boundaries can't flip on last-ulp noise.
"""

from __future__ import annotations

COSINE_ROUND = 6


def dot_spark(a: str, b: str) -> str:
    return (
        f"aggregate(sequence(1, size({a})), CAST(0 AS double), "
        f"(s, i) -> s + CAST(element_at({a}, i) AS double) * CAST(element_at({b}, i) AS double))"
    )


def dot_duck(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a})+1), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
    )


def cosine_spark(a: str, b: str, round_to: int = COSINE_ROUND) -> str:
    return (
        f"round({dot_spark(a, b)} / "
        f"(sqrt({dot_spark(a, a)}) * sqrt({dot_spark(b, b)})), {round_to})"
    )


def cosine_duck(a: str, b: str, round_to: int = COSINE_ROUND) -> str:
    return (
        f"round({dot_duck(a, b)} / "
        f"(sqrt({dot_duck(a, a)}) * sqrt({dot_duck(b, b)})), {round_to})"
    )


def srp_bucket_duck(vec: str, n_bits: int) -> str:
    """Signed-random-projection bucket id: bit j = sign of the dot
    product with a pseudo-random ±1 hyperplane derived from
    md5(j, dim) nibble parity — deterministic, no stored model."""
    proj = (
        f"list_sum(list_transform(range(1, len({vec})+1), dd -> {vec}[dd]::DOUBLE * "
        f"(CASE WHEN (instr('0123456789abcdef', "
        f"substring(md5(j::VARCHAR || ',' || dd::VARCHAR), 1, 1))-1) % 2 = 0 "
        f"THEN 1.0 ELSE -1.0 END)))"
    )
    return (
        f"list_sum(list_transform(range(0, {n_bits}), "
        f"j -> CASE WHEN {proj} >= 0 THEN (1<<j) ELSE 0 END))::INT"
    )
