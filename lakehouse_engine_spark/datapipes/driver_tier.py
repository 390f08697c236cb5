"""Driver tier: run an iterative operator's loop on the driver when its
input is small.

Connected components (graph and dedup), PageRank, k-means and BPE
training iterate. Above a size gate each runs a distributed loop that
fires Spark jobs every round; below it, one bounded collect brings the
whole input to the driver and the same loop runs in Python with zero
per-round jobs. Each operator owns its gate constant (the row or element
budget); this module owns the pattern, so the rules below hold for all of
them:

* The probe is :func:`bounded_collect` — ``limit(n + 1).collect()``,
  never a count over the corpus — so it moves at most ``n + 1`` rows
  whatever the input size, and a gate of 0 turns the tier off without
  running a job.
* Ids cross to the driver only when Python's ordering and equality
  replicate Spark's (:func:`driver_safe_ids`); otherwise the distributed
  loop runs.
* Labels come back through :func:`labels_frame`, typed with the column
  type Spark coerced the ids to (``greatest``/``union`` resolution of the
  operator's own plan), so a wider ``dst`` than ``src`` never overflows.
* Components are labelled by :func:`min_labels`, the one union-find: every
  node maps to the smallest node of its component, the label the
  distributed min-propagation loops converge to.

Tests pin each operator's two tiers row-identical
(``tests/test_driver_tier.py``).

The same module owns the one broadcast gate, :func:`fits_broadcast`: a
join side that can grow with the vocabulary or the query set (frequent-term
candidates, PMI unigrams, TF-IDF document frequencies, BM25 query terms,
the BPE word table) is broadcast only while one count of it stays within
``BROADCAST_MAX_ROWS``; above it the join shuffles instead of OOMing
executors. Join sides bounded by construction (a benchmark's gram hashes,
per-group statistics, driver-built tables) are broadcast without a gate.
"""

from __future__ import annotations

from typing import Dict, Hashable, Iterable, List, Optional, Tuple

from pyspark.sql import DataFrame, Row
from pyspark.sql import types as T


BROADCAST_MAX_ROWS = 2_000_000


def fits_broadcast(df: DataFrame) -> bool:
    """True when ``df`` has at most ``BROADCAST_MAX_ROWS`` rows — one
    count job, so callers gate on a persisted or checkpointed side."""
    return df.count() <= BROADCAST_MAX_ROWS


def bounded_collect(df: DataFrame, limit: int) -> Optional[List[Row]]:
    """All rows of ``df`` when there are at most ``limit`` of them, else
    None. ``limit <= 0`` returns None without running a job."""
    if limit <= 0:
        return None
    rows = df.limit(limit + 1).collect()
    return rows if len(rows) <= limit else None


def driver_safe_ids(rows: Iterable[Row], *cols: str, allow_null: bool = True) -> bool:
    """True when every value of ``cols`` in ``rows`` is an int or a str
    (bool excluded) — the types whose Python ordering and equality
    replicate Spark's. NULL passes unless ``allow_null`` is False."""
    for r in rows:
        for c in cols:
            v = r[c]
            if v is None:
                if allow_null:
                    continue
                return False
            if isinstance(v, bool) or not isinstance(v, (int, str)):
                return False
    return True


def min_labels(pairs: Iterable[Tuple[Hashable, Hashable]]) -> Dict:
    """Union-find over undirected ``(a, b)`` pairs: maps every node seen
    to the smallest node of its component. A self-pair registers a node
    without connecting it."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union under the smaller root, so each root is its
            # component's minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def labels_frame(
    spark,
    mapping: Dict,
    dtype: T.DataType,
    label_dtype: Optional[T.DataType] = None,
) -> DataFrame:
    """The ``(__node, __label)`` frame of ``mapping``; ``__node`` has
    ``dtype`` and ``__label`` has ``label_dtype`` (default ``dtype``)."""
    return spark.createDataFrame(
        list(mapping.items()),
        T.StructType(
            [
                T.StructField("__node", dtype),
                T.StructField("__label", label_dtype or dtype),
            ]
        ),
    )
