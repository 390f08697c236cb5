"""SQL-string builders for wide per-dimension expression chains.

The scalar-codegen posture (dot products and component extraction as
plain column arithmetic — see dedup.py's "SCALAR expansion" notes)
builds expressions with one term per vector dimension. Chaining those
with Column operators costs ~4 py4j driver round-trips per term — a
64-dim dot product is ~260 blocking socket round-trips built link by
link, and the semantic-dedup family was measured at 10-11k round-trips
per query CONSTRUCTION (r14; ~1.5 s of driver latency per query before
any job runs). Building the identical expression as ONE SQL string
hands the whole tree to the JVM parser in a single call.

Equivalence contract: every builder here produces the same operator
tree the Column-chain form produced — in particular the SAME
left-associative fold order, because float summation order is pinned
by the SQL oracles (`a + b + c` parses as `(a + b) + c`, exactly the
order `sum(generator, start)` chained).

:func:`vector_width` is the one width probe those builders size from;
:func:`md5_fold` and :func:`grid_sq_dist` are the one form of the
datapipes' md5 hash and of the exact integer-grid squared distance.
"""

from __future__ import annotations

from typing import List, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_cols(lfmt: str, rfmt: str, dim: int) -> Column:
    """Left-associative dot product over paired scalar columns.

    ``lfmt``/``rfmt`` are format strings with ``{i}`` (e.g. ``"l.__e{i}"``).
    """
    return F.expr(
        " + ".join(
            f"{lfmt.format(i=i)} * {rfmt.format(i=i)}" for i in range(dim)
        )
    )


def dot_elements(lhs: str, rhs: str, dim: int) -> Column:
    """Left-associative dot product via ``element_at`` over two array
    columns (1-based, the Column form's convention)."""
    return F.expr(
        " + ".join(
            f"element_at({lhs}, {i}) * element_at({rhs}, {i})"
            for i in range(1, dim + 1)
        )
    )


def element_aliases(src: str, dim: int, prefix: str) -> List[Column]:
    """``[element_at(src, i+1) AS {prefix}{i} ...]`` — one parser call
    per column instead of three Column calls."""
    return [
        F.expr(f"element_at({src}, {i + 1}) as {prefix}{i}")
        for i in range(dim)
    ]


def vector_width(df: DataFrame, col: Union[str, Column]) -> int:
    """Width of the widest vector in ``col``: one aggregate job over the
    non-null rows, so a NULL or short FIRST row cannot leave the width
    None or truncate it. 0 when no non-null vector exists; each caller
    picks its own empty-corpus branch."""
    d = df.select(F.max(F.size(col)).alias("d")).first()["d"]
    return max(int(d or 0), 0)


def md5_fold(col: Union[str, Column]) -> Column:
    """The datapipes' md5 hash: the first 15 hex digits (60 bits) of
    ``md5(col)`` as a non-negative bigint —
    ``cast(conv(substring(md5(col), 1, 15), 16, 10) as bigint)``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def grid_sq_dist(a: Union[str, Column], b: Union[str, Column]) -> Column:
    """Exact squared L2 between two integer-grid vector columns:
    ``aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, +)``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
