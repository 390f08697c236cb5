"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine.

Scale design:
* **exact** — one hash-aggregate shuffle on the key (map-side combined).
* **minhash_lsh** — signature is a projection; candidate generation is ONE
  shuffle on (band_idx, band_hash) — classic banding: two documents collide
  in some band iff their Jaccard similarity likely exceeds the threshold
  implied by (bands, rows). No pairwise O(n²) anywhere; survivor choice is
  min-id per bucket, which needs no connected components.
* **simhash** — 64-bit signature via higher-order aggregates (codegen'd);
  near-dup candidates bucket on 16-bit signature chunks (Hamming≤k ⇒ some
  chunk equal, pigeonhole), verified by popcount.
* **ngram_jaccard** — LSH candidates + exact Jaccard verify on the pair.
* **embedding_cosine** — exact variant for modest corpora; random-hyperplane
  LSH variant for scale (see similarity.py for the ANN machinery).

MinHash hashing is built for portability AND speed: ONE ``md5`` per
*distinct* shingle (both Spark and DuckDB can compute it bit-for-bit),
folded to a 60-bit int, then ``num_hashes`` universal-family linear
permutations ``(a*x + b) mod P`` — integer ops that cost ~nothing next to
the digest. The naive alternative (one md5 per shingle *per seed*) is
``num_hashes``× more digest work for identical statistical behavior.

Cross-run digest state — the contract of the incremental family
(``dedup_incremental_exact``/``_minhash``/``_embedding``,
``text_winnow_incremental``), implemented once by :func:`_read_state`,
:func:`_commit_state` and :func:`_compact_state`:

* The state at ``state_location`` is parquet with ONE column,
  ``digest``: an md5 key digest, a band/bucket hash or a winnowing
  fingerprint — bytes per kept row, never the corpus itself.
* The ops are batch-only (a streaming ACON re-plans them into
  ``foreachBatch``). Every read first runs ``fs_utils.heal``, which
  repairs a compaction swap that crashed between its renames; a state
  that exists but cannot be read fails the batch loudly. Treating it as
  a first run would re-emit every previously-seen row.
* The result is ``localCheckpoint``ed BEFORE its new digests are
  appended. Its lineage reads the state the append is about to mutate,
  so a recomputable persist would, after executor loss, re-read the
  appended digests and silently drop the whole batch; checkpointed
  blocks fail loudly instead. The append is an EAGER side effect at
  transform time, so the returned frame and the state never disagree;
  ``update_state=False`` is the dry run that leaves the state untouched.
* Past ``compact_after_files`` parquet parts (0 disables) the state is
  rewritten as distinct digests, ~1M per file, through the ``fs_utils``
  commit: stage into ``<state_location>__staging``, then swap through a
  ``__old`` backup. Between the two renames a reader outside the engine
  briefly sees no state.
"""

from __future__ import annotations

import logging
from typing import Callable, List, Optional

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_engine_spark.datapipes.colbuild import (
    dot_cols,
    dot_elements,
    element_aliases,
    md5_fold,
    vector_width,
)
from lakehouse_engine_spark.datapipes.driver_tier import (
    bounded_collect,
    driver_safe_ids,
    labels_frame,
    min_labels,
)
from lakehouse_engine_spark.datapipes.materialize import (
    iter_materialize,
    release,
)
from lakehouse_engine_spark.datapipes.parallel import ensure_parallelism
from lakehouse_engine_spark.datapipes.registry import register, register_with
from lakehouse_engine_spark.datapipes.text import shingles, tokens_lower, winnow_fingerprint
from lakehouse_engine_spark.utils import fs_utils

TransformerFn = Callable[[DataFrame], DataFrame]

# Mersenne prime 2^31-1: (a*x + b) % P stays under 2^62 for x,a,b < P,
# so the arithmetic is exact (and identical) in Spark and DuckDB BIGINTs.
MINHASH_P = 2147483647


def _gen_ab(n: int) -> List[tuple]:
    """Deterministic (a, b) coefficients for the permutation family (fixed
    LCG so Spark and the SQL oracle share literals)."""
    state = 0x9E3779B9
    out = []
    for _ in range(n):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = state % (MINHASH_P - 1) + 1
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state % MINHASH_P
        out.append((a, b))
    return out


_LOGGER = logging.getLogger(__name__)

MINHASH_AB = _gen_ab(32)

# Driver tier budget of dedup_connected_components: (doc, bucket) rows
# (see driver_tier.py).
DEDUP_CC_DRIVER_MAX_EDGES = 500_000


def _validate_banding(op: str, num_hashes: int, bands: int) -> None:
    """Loud guard on the (num_hashes, bands) pair every banded-LSH op
    shares: bands must divide num_hashes with rows >= 1 (bands >
    num_hashes gives rows=0, collapsing EVERY document into one bucket
    and silently deleting the corpus down to one survivor), and
    num_hashes is capped by the precomputed permutation pool
    (minhash_signature's zip_with pads missing slots with the constant
    P, making the extra bands constant corpus-wide — the same silent
    total collapse)."""
    if bands < 1 or num_hashes < 1:
        raise ValueError(f"{op}: num_hashes and bands must be >= 1")
    if num_hashes % bands != 0:
        raise ValueError(
            f"{op}: bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    if num_hashes > len(MINHASH_AB):
        raise ValueError(
            f"{op}: num_hashes ({num_hashes}) exceeds the shared "
            f"permutation pool ({len(MINHASH_AB)}); extend _gen_ab if a "
            "longer signature is genuinely needed"
        )


@register("dedup_exact", streaming_ok=True)
def dedup_exact(
    key_cols: List[str],
    id_col: Optional[str] = None,
    normalize: bool = False,
    watermark_col: Optional[str] = None,
    watermark_delay: str = "1 hour",
) -> TransformerFn:
    """Exact dedup. With ``id_col`` the survivor is deterministic (min id per
    key — required for oracle comparison); without, ``dropDuplicates``.

    ``normalize=True`` lowercases/strips string keys first (near-exact dedup
    of text corpora).

    Streaming: pass ``watermark_col`` — dedup becomes
    ``dropDuplicatesWithinWatermark`` (first arrival per key survives,
    per-key state expires after ``watermark_delay``, so state size is
    bounded by the key arrival rate × delay, not by stream history).
    """

    def _dedup(df: DataFrame) -> DataFrame:
        out = df
        keys = list(key_cols)
        if normalize:
            out = out.withColumns(
                {f"__norm_{c}": F.regexp_replace(F.lower(F.trim(F.col(c))), r"\s+", " ") for c in keys}
            )
            keys = [f"__norm_{c}" for c in keys]
        if df.isStreaming:
            if not watermark_col:
                raise ValueError(
                    "dedup_exact on a stream needs watermark_col (bounded state)"
                )
            if id_col is not None:
                raise ValueError(
                    "dedup_exact on a stream keeps the FIRST arrival per key "
                    "(dropDuplicatesWithinWatermark) — the min-id survivor "
                    "contract of id_col is batch-only; omit id_col"
                )
            return (
                out.withWatermark(watermark_col, watermark_delay)
                .dropDuplicatesWithinWatermark(keys)
                .drop(*[c for c in keys if c.startswith("__norm_")])
            )
        if id_col is None:
            return out.dropDuplicates(keys).drop(*[c for c in keys if c.startswith("__norm_")])
        # row_number, NOT a min-id equality filter: rows that TIE on id
        # (the same delivery ingested twice = full-row duplicates) must
        # leave exactly ONE survivor — an equality filter kept every
        # tied copy, failing the op's one contract; NULL ids order last
        # (an identified row always wins) instead of being silently
        # deleted by the never-true NULL == min comparison
        w = Window.partitionBy(*keys).orderBy(F.asc_nulls_last(id_col))
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", *[c for c in keys if c.startswith("__norm_")])
        )
        return out

    return _dedup


@register("dedup_cross_exact")
def dedup_cross_exact(
    other_df: DataFrame,
    key_cols: List[str],
    other_key_cols: Optional[List[str]] = None,
    normalize: bool = True,
    mode: str = "drop",  # drop | flag
    flag_col: str = "in_reference",
    broadcast_other: bool = False,
) -> TransformerFn:
    """Cross-corpus exact dedup: remove (or flag) rows whose content key
    already exists in a REFERENCE corpus — dedup against a previous
    training round, an already-released dataset, or a licensed-out slice.
    Within-corpus duplicates are untouched (compose with ``dedup_exact``
    for that).

    Scale design: the reference side reduces to DISTINCT md5 key digests
    (32-char strings, not full rows/texts), then a LEFT ANTI (or left) hash
    join on the digest — Spark's anti join never materializes matches, and
    the digest projection means the shuffle carries 32 bytes per reference
    row regardless of document size. ``broadcast_other=True`` skips the
    corpus-side shuffle entirely when the reference fits an executor
    (typical for decontamination-style reference lists); with AQE on, a
    small digest side auto-broadcasts anyway.
    """
    other_keys = list(other_key_cols or key_cols)
    if len(other_keys) != len(key_cols):
        raise ValueError("dedup_cross_exact: key_cols/other_key_cols length mismatch")

    def _digest(cols: List[str]) -> Column:
        parts = [F.col(c).cast("string") for c in cols]
        if normalize:
            parts = [F.regexp_replace(F.lower(F.trim(p)), r"\s+", " ") for p in parts]
        # \x1f separator, the dedup_incremental_exact convention (this op
        # previously used \x01 — same boundary safety, now one constant
        # family-wide). concat_ws skips NULL parts on BOTH siblings: a
        # NULL key cell collides with the same text at another position,
        # the documented shared trade for join-key-friendly digests.
        return F.md5(F.concat_ws("\x1f", *parts))

    def _dedup(df: DataFrame) -> DataFrame:
        ref = other_df.select(_digest(other_keys).alias("__kh")).distinct()
        if broadcast_other:
            ref = F.broadcast(ref)
        keyed = df.withColumn("__kh", _digest(list(key_cols)))
        if mode == "drop":
            return keyed.join(ref, "__kh", "left_anti").drop("__kh")
        hit = ref.withColumn(flag_col, F.lit(True))
        return (
            keyed.join(hit, "__kh", "left")
            .withColumn(flag_col, F.coalesce(F.col(flag_col), F.lit(False)))
            .drop("__kh")
        )

    return _dedup


@register("dedup_cross_minhash")
def dedup_cross_minhash(
    other_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    other_text_col: Optional[str] = None,
    other_id_col: Optional[str] = None,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_size: int = 3,
    mode: str = "drop",  # drop | flag
    flag_col: str = "near_reference",
    broadcast_other: bool = False,
) -> TransformerFn:
    """Cross-corpus NEAR-duplicate removal: drop (or flag) documents whose
    MinHash band buckets collide with a REFERENCE corpus — the fuzzy
    companion of :func:`dedup_cross_exact` (dedup against a previous
    training round / released dataset where near-dups, not just byte-dups,
    must go). Collision in any band ≈ Jaccard above the (bands, rows)
    threshold, the same banding rule as ``dedup_minhash_lsh``.

    Scale design: the reference side reduces to its DISTINCT band-bucket
    hashes — 32-char digests with NO ids, texts, or signatures attached
    (≤ bands rows per reference doc, dedup'd) — and the corpus side LEFT
    SEMI joins its own band hashes against that set, then distinct-ids the
    hits. Both joins carry only (id, digest) pairs; the md5-heavy signature
    pipeline runs once per side in codegen row space with map-side-combined
    minima. ``broadcast_other=True`` makes the probe shuffle-free on the
    corpus side when the reference bucket set fits an executor.
    """
    _validate_banding("dedup_cross_minhash", num_hashes, bands)
    rows = num_hashes // bands

    def _dedup(df: DataFrame) -> DataFrame:
        o_text = other_text_col or text_col
        o_id = other_id_col or id_col
        ref_sig = _minhash_sig_df(other_df, o_text, o_id, num_hashes, shingle_size)
        ref_buckets = _band_exploded(ref_sig, bands, rows).select("__h").distinct()
        if broadcast_other:
            ref_buckets = F.broadcast(ref_buckets)
        sig = _minhash_sig_df(df, text_col, id_col, num_hashes, shingle_size)
        hits = (
            _band_exploded(sig, bands, rows)
            .join(ref_buckets, "__h", "left_semi")
            .select("__id")
            .distinct()
        )
        if mode == "drop":
            return df.join(hits, df[id_col] == hits["__id"], "left_anti")
        flagged = hits.withColumn(flag_col, F.lit(True))
        return (
            df.join(flagged, df[id_col] == flagged["__id"], "left")
            .withColumn(flag_col, F.coalesce(F.col(flag_col), F.lit(False)))
            .drop("__id")
        )

    return _dedup


@register("dedup_cross_embedding")
def dedup_cross_embedding(
    other_df: DataFrame,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    other_embedding_col: Optional[str] = None,
    other_id_col: Optional[str] = None,
    threshold: float = 0.9,
    num_planes: int = 12,
    num_tables: int = 4,
    dim: Optional[int] = None,
    max_bucket_size: Optional[int] = 10_000,
    pair_budget: Optional[int] = None,
    mode: str = "drop",  # drop | flag
    flag_col: str = "near_reference",
) -> TransformerFn:
    """Cross-corpus SEMANTIC near-dedup: drop (or flag) rows whose
    embedding is cosine-similar (≥ ``threshold``) to ANY vector in a
    REFERENCE corpus — completes the cross-corpus family (exact bytes:
    :func:`dedup_cross_exact`; near text: :func:`dedup_cross_minhash`;
    near meaning: this). Typical use: purge paraphrases of eval benchmarks
    or a previous round's data before training.

    Scale design: both sides project to hyperplane sign signatures with
    the SAME seeded planes (``similarity.hyperplane_signatures``), so a
    bucket equi-join on (table, signature) yields candidates without any
    all-pairs scoring. Candidate pairs travel ids-only through the join +
    cross-table dedup; vectors re-attach once per unique pair and the
    exact cosine verify is a codegen'd ``element_at`` chain (same
    left-fold order as the oracle). Oversized buckets drop per side via
    ``max_bucket_size``. Never O(main × ref).
    """

    def _dedup(df: DataFrame) -> DataFrame:
        d = dim if dim is not None else vector_width(df, embedding_col) or 1

        def _sigs(sdf: DataFrame, emb: str, idc: str) -> DataFrame:
            return _cosine_sigs(
                sdf, emb, idc, num_planes, num_tables, d, max_bucket_size, pair_budget
            )

        main = _sigs(df, embedding_col, id_col)
        ref = _sigs(other_df, other_embedding_col or embedding_col, other_id_col or id_col)
        hits = _cosine_lsh_pairs(main, ref, d, threshold).select("__id").distinct()
        if mode == "drop":
            return df.join(hits, df[id_col] == hits["__id"], "left_anti")
        flagged = hits.withColumn(flag_col, F.lit(True))
        return (
            df.join(flagged, df[id_col] == flagged["__id"], "left")
            .withColumn(flag_col, F.coalesce(F.col(flag_col), F.lit(False)))
            .drop("__id")
        )

    return _dedup


register_with("dedup_cross_embedding_with", dedup_cross_embedding, "other", "other_df")
register_with("dedup_cross_minhash_with", dedup_cross_minhash, "other", "other_df")
register_with("dedup_cross_exact_with", dedup_cross_exact, "other", "other_df")


@register("dedup_substring_exact")
def dedup_substring_exact(
    input_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    output_col: str = "text_deduped",
    removed_col: str = "n_tokens_removed",
) -> TransformerFn:
    """EXACT substring dedup at ``k``-token granularity — the distributed
    formulation of suffix-array training-data dedup (remove every repeated
    span of ≥ k tokens, keeping its first corpus occurrence). Catches the
    repeats document-level dedup can't: a quoted paragraph, a license
    block pasted mid-file, self-repeating generations.

    Rule: every ``k``-token window whose exact token sequence occurred
    earlier in the corpus (ordered by doc id, then position — including
    earlier in the SAME doc) is a repeat; the union of repeated windows'
    spans is cut from the document and the text is rebuilt from surviving
    tokens (single-space joined — span surgery is token-level, so original
    inter-token whitespace is not preserved). Docs under ``k`` tokens pass
    through (normalized the same way). Emits the rebuilt text and the
    removed-token count.

    Scale design: one windows pass (id, start, md5 of the k-gram — volume
    ∝ corpus tokens, the same cost class as line/ngram dedup), ONE window
    over the gram digest for first-occurrence ranking, then repeats expand
    to covered (id, pos) pairs (volume ∝ 32 × repeated windows only, NOT
    corpus tokens), a position-keyed anti join, and a per-doc ordered
    rebuild. No pairwise joins; everything keys on digest, (id, pos), or
    id.
    """
    if k < 2:
        raise ValueError(f"dedup_substring_exact: k must be >= 2, got {k}")

    def _dedup(df: DataFrame) -> DataFrame:
        toks = F.filter(F.split(F.trim(F.col(input_col)), r"\s+"), lambda t: t != "")
        # persist the tokenized corpus: base feeds the window filter,
        # the slice reattach join, AND the posexplode — un-persisted,
        # the dominant regexp-split projection executes 3x (the file's
        # persist-the-shared-scan convention, see the sig/winnow sites)
        base = (
            ensure_parallelism(df)
            .select(F.col(id_col).alias("__id"), toks.alias("__t"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n = F.size("__t")
        wins = base.filter(n >= k).select(
            "__id",
            F.explode(F.sequence(F.lit(0), n - k)).alias("__s"),
        )
        wins = (
            base.join(wins, "__id")
            .select(
                "__id",
                "__s",
                F.md5(
                    F.concat_ws(" ", F.slice("__t", F.col("__s") + 1, k))
                ).alias("__gh"),
            )
        )
        w = Window.partitionBy("__gh").orderBy("__id", "__s")
        repeats = (
            wins.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > 1)
            .select("__id", "__s")
        )
        covered = repeats.select(
            "__id", F.explode(F.sequence(F.col("__s"), F.col("__s") + k - 1)).alias("__p")
        ).distinct()
        tokens = base.select(
            "__id", F.posexplode("__t").alias("__p", "__tok")
        )
        kept = tokens.join(covered, ["__id", "__p"], "left_anti")
        rebuilt = kept.groupBy("__id").agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__p", "__tok"))),
                    lambda x: x["__tok"],
                ),
            ).alias("__joined"),
            F.count(F.lit(1)).alias("__nkept"),
        )
        out = (
            df.withColumn("__ntok", F.size(toks))
            .join(rebuilt, df[id_col] == rebuilt["__id"], "left")
            .withColumn(output_col, F.coalesce(F.col("__joined"), F.lit("")))
            .withColumn(
                removed_col,
                (F.col("__ntok") - F.coalesce("__nkept", F.lit(0))).cast("int"),
            )
            .drop("__id", "__joined", "__nkept", "__ntok")
        )
        return out

    return _dedup


def minhash_signature(col: Column, num_hashes: int = 12, shingle_size: int = 3) -> Column:
    """Array of ``num_hashes`` min-wise hashes (bigints) of the document's
    distinct-shingle set. Pure projection — portable to ANSI SQL.

    One md5 per distinct shingle (distinct doesn't change any min), folded
    into the permutation family in a single ``aggregate`` pass holding the
    running elementwise minima."""
    P = MINHASH_P
    ab = MINHASH_AB[:num_hashes]
    bases = F.transform(
        shingles(col, shingle_size),
        lambda s: md5_fold(s) % P,
    )

    def fold(acc: Column, x: Column) -> Column:
        hashes = F.array(*[(F.lit(a) * x + F.lit(b)) % P for a, b in ab])
        return F.zip_with(acc, hashes, lambda m, v: F.least(m, v))

    return F.aggregate(
        F.array_distinct(bases), F.array_repeat(F.lit(P).cast("long"), num_hashes), fold
    )


def _minhash_sig_df(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, shingle_size: int
) -> DataFrame:
    """Signature as columns ``__id, __h0..__h{n-1}`` via explode → codegen.

    The per-shingle md5 + permutations run inside whole-stage codegen (row
    space), and the per-document minima come from a map-side-combined
    groupBy — at scale this is one shuffle of (id, 12 longs) per document,
    with the heavy hashing fully vectorized. The higher-order-function
    variant (``minhash_signature``) computes identical values but evaluates
    interpreted; this is the hot path.
    """
    P = MINHASH_P
    ex = ensure_parallelism(df).select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), shingle_size))).alias("__s"),
    ).select(
        "__id",
        (md5_fold("__s") % P).alias("__x"),
    )
    # one parser round-trip per permutation (colbuild rationale); a and b
    # are < P = 2^31-1, so the SQL int literals type exactly like the
    # F.lit ints they replace (int * bigint -> bigint)
    aggs = [
        F.expr(f"min(({a} * __x + {b}) % {P}) as __h{i}")
        for i, (a, b) in enumerate(MINHASH_AB[:num_hashes])
    ]
    return ex.groupBy("__id").agg(*aggs)


def _band_exploded(sig_df: DataFrame, bands: int, rows: int) -> DataFrame:
    """(__id, __h) band-bucket rows from a signature-columns DataFrame."""
    band_cols = [
        "md5(concat('{}:', concat_ws('|', {})))".format(
            b,
            ", ".join(
                f"cast(__h{b * rows + r} as string)" for r in range(rows)
            ),
        )
        for b in range(bands)
    ]
    return sig_df.select(
        "__id", F.expr(f"explode(array({', '.join(band_cols)})) as __h")
    )


def band_hashes(sig: Column, bands: int, rows: int) -> Column:
    """Hash each band (contiguous ``rows`` slice of the signature). The band
    index is baked into the hash so buckets key on one column."""
    return F.array(
        *[
            F.md5(
                F.concat(
                    F.lit(f"{b}:"),
                    F.concat_ws(
                        "|",
                        F.transform(
                            F.slice(sig, b * rows + 1, rows), lambda x: x.cast("string")
                        ),
                    ),
                )
            )
            for b in range(bands)
        ]
    )


@register("lsh_bucket_stats")
def lsh_bucket_stats(
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_size: int = 3,
) -> TransformerFn:
    """Bucket-size histogram of the MinHash-LSH banding — the tuning tool
    for ``max_bucket_size``: one row per bucket size with the number of
    buckets and total docs at that size. Run this before a big dedup to see
    whether boilerplate mega-buckets exist and where to cap. Two map-side-
    combined aggregations; no pair join anywhere."""
    _validate_banding("lsh_bucket_stats", num_hashes, bands)
    rows = num_hashes // bands

    def _stats(df: DataFrame) -> DataFrame:
        sig = _minhash_sig_df(df, text_col, id_col, num_hashes, shingle_size)
        sizes = _band_exploded(sig, bands, rows).groupBy("__h").agg(
            F.count(F.lit(1)).alias("bucket_size")
        )
        return (
            sizes.groupBy("bucket_size")
            .agg(F.count(F.lit(1)).alias("n_buckets"))
            .withColumn("n_docs", F.col("bucket_size") * F.col("n_buckets"))
            .orderBy(F.desc("bucket_size"))
        )

    return _stats


@register("dedup_minhash_lsh")
def dedup_minhash_lsh(
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_size: int = 3,
    keep: str = "survivors",  # survivors | flagged
) -> TransformerFn:
    """MinHash + banded LSH near-duplicate removal.

    A document is a duplicate when it shares any band bucket with a
    lower-id document; survivors are bucket minima. This transitive-lite
    rule avoids connected components while still collapsing clusters (every
    non-minimal member sees a smaller id in at least one shared bucket).
    """
    if keep not in ("survivors", "flagged"):
        raise ValueError(f"dedup_minhash_lsh: keep must be survivors|flagged, got {keep!r}")
    _validate_banding("dedup_minhash_lsh", num_hashes, bands)
    rows = num_hashes // bands

    def _dedup(df: DataFrame) -> DataFrame:
        sig = _minhash_sig_df(df, text_col, id_col, num_hashes, shingle_size)
        exploded = _band_exploded(sig, bands, rows)
        # min id per bucket (window over the bucket key), then min over a
        # doc's buckets = its cluster head. One shuffle on __h, one on __id —
        # and the signature pipeline (the md5-heavy part) runs ONCE, unlike a
        # bucket-min groupBy joined back against a second signature scan.
        head = (
            exploded.withColumn(
                "__bucket_min", F.min("__id").over(Window.partitionBy("__h"))
            )
            .groupBy("__id")
            .agg(F.min("__bucket_min").alias("dup_group_id"))
        )
        out = df.join(head, df[id_col] == head["__id"], "left").drop("__id")
        # isNotNull guard (the dedup_simhash/ngram_jaccard convention):
        # a row that misses the join-back (NULL doc_id never equi-joins)
        # would get a NULL flag — filter(~NULL) silently DELETES it in
        # survivors mode instead of passing it through as a non-duplicate
        out = out.withColumn(
            "is_duplicate",
            F.col("dup_group_id").isNotNull()
            & (F.col("dup_group_id") < F.col(id_col)),
        )
        if keep == "survivors":
            return out.filter(~F.col("is_duplicate")).drop("is_duplicate", "dup_group_id")
        return out

    return _dedup


# SimHash width: 60 bits — the md5-fold (15 hex chars) used across the
# dedup family yields a 60-bit non-negative int that BOTH Spark and an ANSI
# SQL oracle can compute bit-for-bit; xxhash64 would give 64 bits but has no
# portable equivalent. 60 bits lose nothing material for near-dup detection.
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4  # pigeonhole buckets of 15 bits each


def simhash60(col: Column, shingle_size: int = 2) -> Column:
    """60-bit SimHash of the document's shingles — sum ±1 per bit of each
    shingle's md5-fold hash, take sign. Entirely higher-order functions."""
    sh = shingles(col, shingle_size)

    def bit_votes(s: Column) -> Column:
        # ±1 vote per bit of the shingle hash (shift amounts must be literals)
        h = md5_fold(s)
        return F.array(
            *[
                F.when(
                    F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
                for i in range(SIMHASH_BITS)
            ]
        )

    counters = F.aggregate(
        sh,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, s: F.zip_with(acc, bit_votes(s), lambda a, b: a + b),
    )
    sig = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        # OR composes disjoint bits safely under ANSI mode.
        sig = sig.bitwiseOR(
            F.when(
                F.element_at(counters, i + 1) > 0,
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
        )
    return sig


def _simhash_sig_df(
    df: DataFrame, text_col: str, id_col: str, shingle_size: int
) -> DataFrame:
    """``(__id, __sim)`` via explode → 60 map-side-combined sign counters.

    Computes the same signature as :func:`simhash60` (one md5-fold per
    shingle occurrence, ±1 vote per bit, sign → bit) but in row space:
    the hash runs ONCE per shingle inside whole-stage codegen and the 60
    per-bit vote sums are partial-aggregated before the per-document
    shuffle. The higher-order-function form re-evaluates the hash per bit
    and runs interpreted — orders of magnitude slower on the hot path.
    The md5-fold (vs xxhash64) keeps the signature reproducible in ANSI
    SQL, so a DuckDB oracle can verify the operator end-to-end.
    """
    ex = ensure_parallelism(df).select(
        F.col(id_col).alias("__id"),
        F.explode(shingles(F.col(text_col), shingle_size)).alias("__s"),
    ).select(
        "__id",
        md5_fold("__s").alias("__h"),
    )
    # expressions as SQL strings, one parser round-trip each: the Column
    # form made ~8 py4j calls per bit (x60 votes + a 60-deep bitwiseOR
    # chain built link by link) — several hundred driver round-trips per
    # signature build for expression trees the parser constructs
    # JVM-side in one call. Semantics are identical operator for
    # operator (CASE WHEN == when/otherwise, & == bitwiseAND; the OR
    # fold stays left-associative over the same 60 terms).
    aggs = [
        F.expr(
            f"sum(case when shiftright(__h, {i}) & 1 = 1 then 1 else -1 end)"
            f" as __b{i}"
        )
        for i in range(SIMHASH_BITS)
    ]
    counters = ex.groupBy("__id").agg(*aggs)
    sig = " | ".join(
        f"(case when __b{i} > 0 then shiftleft(cast(1 as bigint), {i})"
        f" else cast(0 as bigint) end)"
        for i in range(SIMHASH_BITS)
    )
    return counters.select("__id", F.expr(f"({sig}) as __sim"))


def _effective_cap(
    max_bucket_size: Optional[int], pair_budget: Optional[int]
) -> Optional[int]:
    """Resolve the LSH bucket cap from an explicit member count and/or a
    per-bucket candidate-PAIR budget: a bucket of k members costs
    ~k²/2 verify pairs, so a budget of P pairs caps k at isqrt(2·P).
    The budget form is the production knob — pair work is the quantity
    the verify join actually pays (BASELINE.md records the
    cap²/2 × hot-bucket-count rule; the 10k default size cap admits
    ~50M pairs per degenerate bucket, the round-11 ADVICE finding this
    knob closes). When both are given the tighter cap wins."""
    import math

    caps = [c for c in (max_bucket_size,) if c is not None]
    if pair_budget is not None:
        if pair_budget < 1:
            raise ValueError(f"pair_budget must be >= 1, got {pair_budget}")
        caps.append(max(1, math.isqrt(2 * pair_budget)))
    return min(caps) if caps else None


def _cap_buckets(
    df: DataFrame,
    keys: List[str],
    max_bucket_size: Optional[int],
    pair_budget: Optional[int] = None,
) -> DataFrame:
    """Drop LSH buckets larger than the effective cap (see
    :func:`_effective_cap`) before a pair self-join.

    A degenerate bucket of k members (empty strings, license boilerplate,
    near-constant signatures) produces k² candidate pairs — at web-corpus
    scale a million-doc bucket is a job-killer. Dropping oversized buckets
    is the standard move in the dedup literature: such buckets are
    boilerplate that exact/hash dedup upstream should collapse, not LSH.
    The window count shuffles on the bucket key the pair join also uses, so
    the partitioning is reused — no extra exchange.
    """
    cap = _effective_cap(max_bucket_size, pair_budget)
    if cap is None:
        return df
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("__bn", F.count(F.lit(1)).over(w))
        .filter(F.col("__bn") <= cap)
        .drop("__bn")
    )


def _l2_norm(vec: Column) -> Column:
    """Euclidean norm of a float array (one higher-order pass per row)."""
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda s, v: s + v * v))


def _cosine_sigs(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    num_planes: int,
    num_tables: int,
    dim: int,
    max_bucket_size: Optional[int],
    pair_budget: Optional[int],
) -> DataFrame:
    """The cosine-LSH candidate space of one corpus, persisted: its
    capped hyperplane bucket rows (``__t``, ``__sig``, ``__bid``,
    ``__bv``; ``similarity.hyperplane_signatures``) with the vector norm
    ``__norm`` computed ONCE per row, so the pair verify runs entirely
    inside whole-stage codegen. Zero-norm vectors have no cosine
    direction and all share the all-zero-dots bucket; 0/0 is NaN, which
    Spark orders ABOVE any threshold. They are dropped here, so they
    never pair and always survive."""
    from lakehouse_engine_spark.datapipes.similarity import hyperplane_signatures

    sigs = hyperplane_signatures(df, embedding_col, id_col, num_planes, num_tables, dim=dim)
    return (
        _cap_buckets(sigs, ["__t", "__sig"], max_bucket_size, pair_budget)
        .withColumn("__norm", _l2_norm(F.col("__bv")))
        .filter(F.col("__norm") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _cosine_lsh_pairs(
    left: DataFrame,
    right: DataFrame,
    dim: int,
    threshold: float,
    vectors: Optional[DataFrame] = None,
) -> DataFrame:
    """The cosine-LSH filter-and-verify join: ``(__id, __cand)`` pairs of a
    ``left`` and a ``right`` bucket frame (the :func:`_cosine_sigs` columns)
    that share a (table, signature) bucket and whose exact cosine is
    ``>= threshold``. Passing one frame as both sides is the self-join,
    which keeps each unordered pair once, as ``__id > __cand``.

    Candidate pairs carry ONLY ids through the bucket join and the
    cross-table dedup (a pair colliding in all ``num_tables`` tables would
    otherwise shuffle its 2×dim vectors that many times); the vectors
    re-attach once per UNIQUE pair, from each side's own frame or, when
    given, from ``vectors``: a persisted frame holding every id of both
    sides, which spares recomputing an unpersisted side's plan. The
    verify is a left-associative ``element_at`` chain: the summation
    order of the SQL oracle, codegen'd."""
    on = (F.col("l.__t") == F.col("r.__t")) & (F.col("l.__sig") == F.col("r.__sig"))
    if right is left:
        on = on & (F.col("l.__bid") > F.col("r.__bid"))
    pairs = (
        left.alias("l")
        .join(right.alias("r"), on)
        .select(F.col("l.__bid").alias("__id"), F.col("r.__bid").alias("__cand"))
        .dropDuplicates(["__id", "__cand"])
    )

    def _vecs(side: DataFrame, i: int) -> DataFrame:
        return (
            (side if vectors is None else vectors)
            .select("__bid", "__bv", "__norm")
            .dropDuplicates(["__bid"])
            .select("__bid", F.col("__bv").alias(f"__v{i}"), F.col("__norm").alias(f"__n{i}"))
        )

    cands = (
        pairs.join(_vecs(left, 1), pairs["__id"] == F.col("__bid"))
        .drop("__bid")
        .join(_vecs(right, 2), F.col("__cand") == F.col("__bid"))
        .drop("__bid")
    )
    dot = dot_elements("__v1", "__v2", dim)
    return cands.filter(dot / (F.col("__n1") * F.col("__n2")) >= threshold).select(
        "__id", "__cand"
    )


@register("dedup_simhash")
def dedup_simhash(
    text_col: str = "text",
    id_col: str = "doc_id",
    hamming_threshold: int = 3,
    shingle_size: int = 2,
    keep: str = "survivors",
    max_bucket_size: Optional[int] = 10_000,
    pair_budget: Optional[int] = None,
) -> TransformerFn:
    """SimHash near-dup removal: bucket on the 4 15-bit chunks of the
    signature (Hamming ≤ 3 ⇒ at least one chunk identical), verify candidate
    pairs by popcount of XOR, survivors = min id of verified neighborhood.

    Chunk buckets above ``max_bucket_size`` are dropped (see
    :func:`_cap_buckets`) — their members are kept as non-duplicates; run
    exact dedup first to collapse identical boilerplate. The oracle query
    omits the cap, which is exact for any corpus smaller than the cap."""
    if keep not in ("survivors", "flagged"):
        raise ValueError(f"dedup_simhash: keep must be survivors|flagged, got {keep!r}")

    def _dedup(df: DataFrame) -> DataFrame:
        base = _simhash_sig_df(df, text_col, id_col, shingle_size)
        # the chunk self-join reads the bucket rows twice; persist the tiny
        # capped (id, sig, chunk) table so shingle hashing + 60 vote-sums
        # AND the bucket-size window run once
        chunks = _cap_buckets(
            base.select(
                "__id",
                "__sim",
                F.posexplode(
                    F.array(*[
                        F.shiftright("__sim", k * 15).bitwiseAND(F.lit(0x7FFF))
                        for k in range(SIMHASH_CHUNKS)
                    ])
                ).alias("__k", "__chunk"),
            ),
            ["__k", "__chunk"],
            max_bucket_size,
            pair_budget,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        pairs = (
            chunks.alias("l")
            .join(
                chunks.alias("r"),
                (F.col("l.__k") == F.col("r.__k"))
                & (F.col("l.__chunk") == F.col("r.__chunk"))
                & (F.col("l.__id") > F.col("r.__id")),
            )
            .select(F.col("l.__id").alias("__id"), F.col("r.__id").alias("__cand"),
                    F.col("l.__sim").alias("__s1"), F.col("r.__sim").alias("__s2"))
            .dropDuplicates(["__id", "__cand"])
        )
        verified = pairs.filter(
            F.bit_count(F.col("__s1").bitwiseXOR(F.col("__s2"))) <= hamming_threshold
        )
        heads = verified.groupBy("__id").agg(F.min("__cand").alias("dup_group_id"))
        out = df.join(heads, df[id_col] == heads["__id"], "left").drop("__id")
        out = out.withColumn(
            "is_duplicate", F.col("dup_group_id").isNotNull() & (F.col("dup_group_id") < F.col(id_col))
        ).withColumn("dup_group_id", F.coalesce("dup_group_id", F.col(id_col)))
        if keep == "survivors":
            return out.filter(~F.col("is_duplicate")).drop("is_duplicate", "dup_group_id")
        return out

    return _dedup


@register("dedup_ngram_jaccard")
def dedup_ngram_jaccard(
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 12,
    bands: int = 6,
    keep: str = "survivors",
    max_bucket_size: Optional[int] = 10_000,
    pair_budget: Optional[int] = None,
) -> TransformerFn:
    """n-gram Jaccard dedup: MinHash-LSH candidates, exact Jaccard verify.

    The verify join carries both shingle sets only for colliding pairs —
    the pairwise work is proportional to true near-duplicates, not n².
    Band buckets above ``max_bucket_size`` are dropped before the pair join
    (see :func:`_cap_buckets`); the oracle query omits the cap, which is
    exact for any corpus smaller than the cap.
    """
    if keep not in ("survivors", "flagged"):
        raise ValueError(f"dedup_ngram_jaccard: keep must be survivors|flagged, got {keep!r}")
    _validate_banding("dedup_ngram_jaccard", num_hashes, bands)
    rows = num_hashes // bands

    def _dedup(df: DataFrame) -> DataFrame:
        sig = _minhash_sig_df(df, text_col, id_col, num_hashes, shingle_size)
        # both sides of the pair self-join read the bucket rows — persist so
        # the md5-heavy signature pipeline AND the bucket-size window
        # materialize once (ids+hashes only, a sliver of the corpus size;
        # spills to disk if it ever doesn't fit)
        exploded = _cap_buckets(
            _band_exploded(sig, bands, rows), ["__h"], max_bucket_size,
            pair_budget,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # candidate pairs carry ONLY ids through the bucket join + dedup;
        # the (large) shingle arrays attach afterwards, once per unique pair
        pairs = (
            exploded.alias("l")
            .join(
                exploded.alias("r"),
                (F.col("l.__h") == F.col("r.__h")) & (F.col("l.__id") > F.col("r.__id")),
            )
            .select(F.col("l.__id").alias("__id"), F.col("r.__id").alias("__cand"))
            .dropDuplicates(["__id", "__cand"])
        )
        sh = ensure_parallelism(df).select(
            F.col(id_col).alias("__sid"),
            F.array_distinct(shingles(F.col(text_col), shingle_size)).alias("__sh"),
        )
        cands = (
            pairs.join(sh.select(F.col("__sid"), F.col("__sh").alias("__sh1")), pairs["__id"] == F.col("__sid"))
            .drop("__sid")
            .join(sh.select(F.col("__sid"), F.col("__sh").alias("__sh2")), F.col("__cand") == F.col("__sid"))
            .drop("__sid")
        )
        # intersect computed once; union via inclusion-exclusion
        with_int = cands.withColumn(
            "__int", F.size(F.array_intersect("__sh1", "__sh2")).cast("double")
        )
        union_sz = (F.size("__sh1") + F.size("__sh2")).cast("double") - F.col("__int")
        verified = with_int.withColumn("__jac", F.col("__int") / union_sz).filter(
            F.col("__jac") >= threshold
        )
        heads = verified.groupBy("__id").agg(F.min("__cand").alias("dup_group_id"))
        out = df.join(heads, df[id_col] == heads["__id"], "left").drop("__id")
        out = out.withColumn(
            "is_duplicate", F.col("dup_group_id").isNotNull() & (F.col("dup_group_id") < F.col(id_col))
        )
        if keep == "survivors":
            return out.filter(~F.col("is_duplicate")).drop("is_duplicate", "dup_group_id")
        return out

    return _dedup


@register("dedup_connected_components")
def dedup_connected_components(
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_size: int = 3,
    output_col: str = "component_id",
    max_iterations: int = 25,
    keep: str = "clusters",  # clusters | survivors | best
    best_by: Optional[str] = None,
) -> TransformerFn:
    """Transitive duplicate clusters: connected components over MinHash-LSH
    buckets (the full closure the bucket-min rule in ``dedup_minhash_lsh``
    approximates — a~b, b~c ⇒ a,b,c share one ``component_id`` even when a
    and c collide in no bucket).

    Scale design: labels propagate on the **doc↔bucket bipartite graph**
    directly — a bucket of k documents is ONE hyperedge, never k² pairwise
    edges, so a degenerate bucket (boilerplate text) costs k rows instead of
    k² rows. Each round is two map-side-combined aggregations (min label per
    bucket, then min bucket-label per doc) shuffling only (id/bucket, long);
    rounds needed = the bucket-graph diameter of the largest cluster (tiny
    for near-dup clusters — they are bucket-cliques; converges in 1-3 rounds
    in practice, bounded by ``max_iterations``; when the bound stops it
    unconverged it logs a WARNING, since the converged labels — what the
    driver tier's union-find returns below its budget — are canonical).
    Convergence is detected by an exact changed-label count over the
    materialized round result (type-agnostic — ids may be strings), one
    scalar action per round;
    ``localCheckpoint`` truncates the growing lineage so round N's plan does
    not replay rounds 1..N-1.

    Survivor selection: ``keep="survivors"`` keeps the min-id member of
    each component (cheapest — the label IS the min id, a filter).
    ``keep="best"`` keeps the argmax of the ``best_by`` SQL expression
    (ties → smallest id) — what production dedup actually wants: keep the
    longest / highest-quality copy, not an arbitrary one. Costs one extra
    map-side-combined agg on the component id plus a hash join back;
    still no pairwise work.
    """
    if keep not in ("clusters", "survivors", "best"):
        raise ValueError(f"keep must be clusters|survivors|best, got {keep!r}")
    if keep == "best" and not best_by:
        raise ValueError('keep="best" requires best_by (a SQL expression)')
    _validate_banding("dedup_connected_components", num_hashes, bands)
    rows = num_hashes // bands

    def _cc(df: DataFrame) -> DataFrame:
        sig = _minhash_sig_df(df, text_col, id_col, num_hashes, shingle_size)
        edges = _band_exploded(sig, bands, rows).persist(StorageLevel.MEMORY_AND_DISK)
        probe = bounded_collect(edges, DEDUP_CC_DRIVER_MAX_EDGES)
        # a NULL id never equi-joins, so it stays on the distributed path
        if probe is not None and driver_safe_ids(probe, "__id", allow_null=False):
            # join each doc to the first doc of its bucket: the same
            # closure as the doc-bucket graph, with doc ids only
            first: dict = {}
            labels = labels_frame(
                df.sparkSession,
                min_labels(
                    (r["__id"], first.setdefault(r["__h"], r["__id"]))
                    for r in probe
                ),
                edges.schema["__id"].dataType,
            ).withColumnRenamed("__node", "__id")
            edges.unpersist()
            return _cc_emit(df, F.broadcast(labels))
        labels = iter_materialize(
            edges.select("__id").distinct().withColumn(
                "__label", F.col("__id")
            ),
            eager=False,
            corpus_sized=True,
        )
        first_round = True
        for _ in range(max_iterations):
            # Round 1 specialization (r15): the initial label table is
            # the IDENTITY map (label == id by construction), so the
            # first round's bucket minimum is min(id) per bucket
            # straight off the cached edge table — the edges⋈labels
            # join (and the label-side exchange feeding it) is a no-op
            # there. Near-dup corpora converge in 1-3 rounds, so the
            # specialized round is the dominant one.
            if first_round:
                bucket_min = edges.groupBy("__h").agg(
                    F.min("__id").alias("__bmin")
                )
                first_round = False
            else:
                bucket_min = (
                    edges.join(labels, "__id")
                    .groupBy("__h")
                    .agg(F.min("__label").alias("__bmin"))
                )
            # propagation and the old-label carry in ONE id-keyed
            # aggregation (r14): the previous shape ran a groupBy-min
            # over the bucket candidates and then LEFT JOINed the labels
            # back on — an extra exchange plus a join per round — for
            # exactly min(old_label, min(bucket mins)), which a union
            # into one MIN computes (MIN is type-agnostic, so string ids
            # keep working; every id has exactly one old row, so the
            # conditional MAX recovers it losslessly).
            # carry the previous label through the checkpoint so the
            # convergence probe is an exact changed-row count over the
            # MATERIALIZED round result (no recompute, no numeric cast —
            # the old sum(__label) probe required numeric ids and blew up
            # on string ids)
            stepped = iter_materialize(
                labels.select(
                    "__id",
                    F.col("__label").alias("__val"),
                    F.lit(True).alias("__is_old"),
                )
                .union(
                    edges.join(bucket_min, "__h").select(
                        "__id",
                        F.col("__bmin").alias("__val"),
                        F.lit(False).alias("__is_old"),
                    )
                )
                .groupBy("__id")
                .agg(
                    F.max(F.when(F.col("__is_old"), F.col("__val"))).alias(
                        "__old"
                    ),
                    F.min("__val").alias("__label"),
                ),
                corpus_sized=True,
            )
            changed = stepped.filter(F.col("__label") != F.col("__old")).count()
            release(labels)  # previous round, now superseded
            labels = stepped.drop("__old")
            labels._lhe_cache_handle = getattr(
                stepped, "_lhe_cache_handle", None
            )
            if changed == 0:
                break
        else:
            # the driver tier's converged labels are canonical; a
            # truncated closure here differs from them
            _LOGGER.warning(
                "dedup_connected_components: labels still changing after "
                "max_iterations=%d rounds; components may be split",
                max_iterations,
            )
        edges.unpersist()
        return _cc_emit(df, labels)

    def _cc_emit(df: DataFrame, labels: DataFrame) -> DataFrame:
        out = df.join(labels, df[id_col] == labels["__id"], "left").drop("__id")
        out = out.withColumn(output_col, F.coalesce("__label", F.col(id_col))).drop("__label")
        if keep == "survivors":
            return out.filter(F.col(output_col) == F.col(id_col)).drop(output_col)
        if keep == "best":
            # argmax(best_by) per component, ties -> smallest id. A
            # row_number over (score desc, id asc) is type-agnostic in the
            # id — the earlier negate-the-id struct trick silently cast
            # STRING ids to NULL under non-ANSI mode, dropping the whole
            # component — and costs the same single component-keyed
            # exchange as the groupBy+join it replaces.
            from pyspark.sql import Window as _W

            w = _W.partitionBy(output_col).orderBy(
                F.expr(best_by).desc(), F.col(id_col).asc()
            )
            return (
                out.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop(output_col, "__rn")
            )
        return out

    return _cc


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays — JVM-side higher-order fns.

    Zero-norm inputs (e.g. empty documents through text_hash_embedding)
    have no direction; their similarity is defined as 0.0 instead of an
    ANSI divide-by-zero error, so ANN ranking and dedup verify treat
    them as similar to nothing."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    denom = _l2_norm(a) * _l2_norm(b)
    return F.when(denom > 0, dot / denom).otherwise(F.lit(0.0))


@register("dedup_embedding_cosine")
def dedup_embedding_cosine(
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.98,
    keep: str = "survivors",
    method: str = "lsh",
    num_planes: int = 12,
    num_tables: int = 4,
    max_bucket_size: Optional[int] = 10_000,
    pair_budget: Optional[int] = None,
    dim: Optional[int] = None,
) -> TransformerFn:
    """Embedding near-dup removal.

    ``method="exact"`` — OPT-IN all-pairs O(n²/2) comparisons; the
    correctness baseline, fine up to ~10⁵ vectors per run but infeasible
    beyond (BASELINE.md's 200k-vector probe: ~20 min all-pairs vs 195 s
    LSH). The hot pair loop is kept inside whole-stage codegen: vectors
    are L2-normalized ONCE (one higher-order pass per row), then expanded
    to scalar columns so the pair similarity is a plain fused dot product
    — no interpreted array lambdas on the O(n²) path.

    ``method="lsh"`` — the DEFAULT and the 100 TB path: candidate pairs must share a
    random-hyperplane bucket in one of ``num_tables`` signature tables
    (``similarity.hyperplane_signatures``), then the exact cosine verify
    runs per candidate pair only. One signature projection, one bucket
    equi-join — pairwise work proportional to true near-duplicates. At a
    0.98-style threshold the angle is tiny, so sign-LSH collision
    probability per plane is ~1 and recall stays high; buckets above
    ``max_bucket_size`` are dropped (:func:`_cap_buckets`).
    """
    if keep not in ("survivors", "flagged"):
        raise ValueError(f"dedup_embedding_cosine: keep must be survivors|flagged, got {keep!r}")
    if method not in ("exact", "lsh"):
        raise ValueError(f"dedup_embedding_cosine: unknown method {method}")
    dim_arg = dim  # closures probe lazily into a local also named dim

    def _width(df: DataFrame) -> int:
        # a caller-supplied dim skips the width-probe scan job
        return dim_arg if dim_arg is not None else vector_width(df, embedding_col) or 1

    def _dedup_lsh(df: DataFrame) -> DataFrame:
        dim = _width(df)
        sigs = _cosine_sigs(
            df, embedding_col, id_col, num_planes, num_tables, dim,
            max_bucket_size, pair_budget,
        )
        heads = (
            _cosine_lsh_pairs(sigs, sigs, dim, threshold)
            .groupBy("__id")
            .agg(F.min("__cand").alias("dup_group_id"))
        )
        out = df.join(heads, df[id_col] == heads["__id"], "left").drop("__id")
        out = out.withColumn(
            "is_duplicate",
            F.col("dup_group_id").isNotNull() & (F.col("dup_group_id") < F.col(id_col)),
        )
        if keep == "survivors":
            return out.filter(~F.col("is_duplicate")).drop("is_duplicate", "dup_group_id")
        return out

    def _dedup(df: DataFrame) -> DataFrame:
        dim = _width(df)
        norm = _l2_norm(F.col(embedding_col).cast("array<double>"))
        unit = F.transform(F.col(embedding_col).cast("array<double>"), lambda v: v / norm)
        # normalize once, persist: both the spread stream side and the
        # broadcast build side read the same tiny normalized table instead of
        # re-running the normalization projection per join input.
        # Zero-norm vectors have no direction: they skip the pair space
        # entirely (the unit normalization would be 0/0) and survive via
        # the left join below — cosine similarity cannot call them
        # duplicates of anything.
        # two projections so the component extraction can be string-built
        # (colbuild): Catalyst collapses them back into the single
        # element_at(transform(...), i) projection the one-select form
        # analyzed to — identical values, ~3x fewer driver round-trips
        vecs = (
            ensure_parallelism(df)
            .filter(norm > 0)
            .select(F.col(id_col).alias("__id"), unit.alias("__u"))
            .select("__id", *element_aliases("__u", dim, "__e"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        dot = dot_cols("l.__e{i}", "r.__e{i}", dim)
        # stream side carries the O(n²) loop — spread it; build side broadcasts
        pairs = (
            vecs.alias("l")
            .join(F.broadcast(vecs.alias("r")), F.col("l.__id") > F.col("r.__id"))
            .withColumn("__cos", dot)
            .filter(F.col("__cos") >= threshold)
            .select(F.col("l.__id").alias("__id"), F.col("r.__id").alias("__cand"))
        )
        heads = pairs.groupBy("__id").agg(F.min("__cand").alias("dup_group_id"))
        out = df.join(heads, df[id_col] == heads["__id"], "left").drop("__id")
        out = out.withColumn(
            "is_duplicate", F.col("dup_group_id").isNotNull() & (F.col("dup_group_id") < F.col(id_col))
        )
        if keep == "survivors":
            return out.filter(~F.col("is_duplicate")).drop("is_duplicate", "dup_group_id")
        return out

    return _dedup_lsh if method == "lsh" else _dedup


@register("dedup_semantic_centroid")
def dedup_semantic_centroid(
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_centroids: int = 16,
    keep: str = "survivors",
    dim: Optional[int] = None,
    max_cluster_size: Optional[int] = 100_000,
) -> TransformerFn:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    assign every vector to its best-cosine coarse centroid, then
    pairwise-verify ONLY within a cluster — O(Σ cluster²) instead of the
    LSH bucket join's collision-driven cost, and the shape used on
    web-scale corpora where K-means clusters are the curation unit.

    Centroids are the ``num_centroids`` vectors with the SMALLEST
    md5-fold content hashes (the ``knn_ivf`` convention — deterministic,
    id-distribution-independent, SQL-replayable). Assignment is one
    broadcast join over the corpus with the ``max(struct)`` tie-break
    (ties → larger centroid id, same as ``knn_ivf``). Survivors follow
    the ``dedup_embedding_cosine`` contract: a vector is a duplicate iff
    a SMALLER-id vector in the same cluster verifies at ``cosine >=
    threshold``; ``keep="all"`` annotates with ``dup_group_id`` /
    ``is_duplicate`` instead of filtering. (The SemDeDup paper keeps the
    member farthest from the centroid; min-id keep is used here so the
    result is join-order-free and oracle-replayable — the set of dropped
    *clusters* is identical, only the representative differs.)

    Scale design: the corpus is touched twice (assignment projection +
    pair join), centroids broadcast, and the pair join is equi-keyed on
    the centroid id, so AQE handles cluster-size skew; clusters above
    ``max_cluster_size`` are dropped from pairing (fail-safe cap, same
    policy as the LSH bucket cap). The verify dot product is the codegen
    ``element_at`` chain — no interpreted array lambdas on the pair path.
    Cache lifetime note: the expanded corpus and the capped assignment
    are persisted because each feeds TWO downstream joins of the
    returned (lazy) plan, so there is no sound point inside the operator
    to unpersist them — in a long-lived session that reuses one
    SparkSession across many invocations, reclaim them with
    ``spark.catalog.clearCache()`` (or materialize + unpersist at the
    call site).
    Zero-norm vectors (e.g. empty documents through
    ``text_hash_embedding``) have no cosine direction: they skip
    assignment and pairing and always survive.
    """
    if keep not in ("survivors", "all"):
        raise ValueError(f"dedup_semantic_centroid: unknown keep {keep!r}")
    if num_centroids < 1:
        raise ValueError(
            f"dedup_semantic_centroid: num_centroids must be >= 1, got {num_centroids}"
        )
    dim_arg = dim

    def _dedup(df: DataFrame) -> DataFrame:
        # the widest width wins, so narrower stragglers surface as nulls
        # in the expansion rather than truncating everyone else
        dim = dim_arg if dim_arg is not None else vector_width(df, embedding_col) or 1

        vec = F.col(embedding_col).cast("array<double>")
        base = ensure_parallelism(df).select(
            F.col(id_col).alias("__sid"),
            vec.alias("__sv"),
            _l2_norm(vec).alias("__norm"),
        )
        # zero-norm vectors (e.g. empty documents through
        # text_hash_embedding) have no cosine direction: they skip
        # assignment and pairing entirely and pass through as survivors —
        # they can never appear in `heads`, so the left join below keeps
        # them. They are also excluded from centroid selection (a
        # zero-vector centroid would make every assignment 0/0).
        nonzero = base.filter(F.col("__norm") > 0)
        chash = md5_fold(F.col("__sid").cast("string"))
        # centroids collect to the driver (num_centroids × dim doubles —
        # KBs, the bpe_train merge-table convention) so the assignment is
        # a PURE CODEGEN PROJECTION: per row, one fused dot-product chain
        # per centroid against literal vectors + an array_max argmax — no
        # groupBy shuffle, no join, and no interpreted HOF on the hot
        # path (the broadcast-join + max(struct-with-array) formulation
        # measured 3× slower than exact all-pairs at 40k vectors).
        centroid_rows = (
            nonzero.orderBy(chash.asc(), F.col("__sid").asc())
            .limit(num_centroids)
            .select("__sid", "__sv")
            .collect()
        )
        if not centroid_rows:
            out = df.withColumn(
                "dup_group_id", F.lit(None).cast(df.schema[id_col].dataType)
            ).withColumn("is_duplicate", F.lit(False))
            if keep == "survivors":
                return out.drop("is_duplicate", "dup_group_id")
            return out
        import math

        # SCALAR expansion everywhere on the hot path (the dp08 exact-arm
        # lesson): a per-centroid literal mega-expression and element_at
        # chains over array columns both fall out of whole-stage codegen
        # (the 40k probe measured 26.5 s for the literal assignment alone
        # and minutes for the array-carrying pair verify); extracting the
        # components to plain double columns ONCE keeps the dot products
        # fused scalar arithmetic.
        corpus = (
            nonzero.select(
                "__sid",
                "__norm",
                *element_aliases("__sv", dim, "__e"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        spark = df.sparkSession
        centroids = spark.createDataFrame(
            [
                tuple(
                    [
                        r["__sid"],
                        math.sqrt(sum(x * x for x in r["__sv"])),
                    ]
                    + [float(x) for x in r["__sv"]]
                )
                for r in centroid_rows
            ]
        ).toDF("__cid", "__cnorm", *[f"__c{i}" for i in range(dim)])
        cdot = dot_cols("__e{i}", "__c{i}", dim)
        # broadcast centroid cross + fused dot, then a SLIM argmax (no
        # vectors inside the max struct; ties -> larger centroid id, the
        # SQL oracle's order) and one id-keyed rejoin to recover the
        # scalar components
        slim = (
            corpus.join(F.broadcast(centroids))
            .select(
                "__sid",
                (cdot / (F.col("__norm") * F.col("__cnorm"))).alias("__sim"),
                "__cid",
            )
            .groupBy("__sid")
            .agg(F.max(F.struct("__sim", "__cid")).alias("__b"))
            .select("__sid", F.col("__b.__cid").alias("__cid"))
        )
        assigned = _cap_buckets(
            corpus.join(slim, "__sid"), ["__cid"], max_cluster_size
        ).persist(StorageLevel.MEMORY_AND_DISK)
        heads = _semantic_verify_heads(assigned, dim, threshold)
        return _semantic_annotate(df, id_col, heads, keep)

    return _dedup


def _semantic_verify_heads(
    assigned: DataFrame, dim: int, threshold: float
) -> DataFrame:
    """In-cluster pairwise cosine verify shared by the flat and
    hierarchical SemDeDup arms. ``assigned`` carries ``__sid`` /
    ``__norm`` / ``__cid`` plus the SCALAR components ``__e0..__e{d-1}``
    (the codegen-friendly expansion — array-carrying pair joins fall out
    of whole-stage codegen, see the flat arm's notes). Returns one row
    per verified duplicate: (``__id``, ``dup_group_id`` = the smallest
    same-cluster id verifying at ``cosine >= threshold``). The pair join
    is equi-keyed on the cluster id so AQE handles cluster-size skew."""
    pdot = dot_cols("l.__e{i}", "r.__e{i}", dim)
    verified = (
        assigned.alias("l")
        .join(
            assigned.alias("r"),
            (F.col("l.__cid") == F.col("r.__cid"))
            & (F.col("l.__sid") > F.col("r.__sid")),
        )
        .filter(
            pdot / (F.col("l.__norm") * F.col("r.__norm")) >= threshold
        )
        .select(
            F.col("l.__sid").alias("__id"),
            F.col("r.__sid").alias("__cand"),
        )
    )
    return verified.groupBy("__id").agg(F.min("__cand").alias("dup_group_id"))


def _semantic_annotate(
    df: DataFrame, id_col: str, heads: DataFrame, keep: str
) -> DataFrame:
    """Rejoin the duplicate heads onto the original frame and apply the
    ``keep`` contract shared by the SemDeDup arms (min-id survivors or
    ``dup_group_id``/``is_duplicate`` annotation)."""
    out = df.join(heads, df[id_col] == heads["__id"], "left").drop("__id")
    out = out.withColumn(
        "is_duplicate",
        F.col("dup_group_id").isNotNull()
        & (F.col("dup_group_id") < F.col(id_col)),
    )
    if keep == "survivors":
        return out.filter(~F.col("is_duplicate")).drop(
            "is_duplicate", "dup_group_id"
        )
    return out


@register("dedup_semantic_hier")
def dedup_semantic_hier(
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    k_coarse: int = 8,
    k_fine: int = 8,
    coarse_iterations: int = 2,
    fine_iterations: int = 2,
    quant_scale: int = 1024,
    keep: str = "survivors",
    max_cluster_size: Optional[int] = 100_000,
    dim: Optional[int] = None,
) -> TransformerFn:
    """SemDeDup over the HIERARCHICAL quantizer's cells — the wide-k arm
    of :func:`dedup_semantic_centroid` (Abbas et al. 2023 run semantic
    dedup at k ~ 1e5 clusters on web corpora; the flat arm's broadcast
    centroid table caps out at the trainer's MAX_K).

    Clusters come from ``embedding_kmeans_hier`` (k_eff = k_coarse ×
    k_fine, exact integer-grid Lloyd at both levels — deterministic and
    SQL-replayable); the in-cell pairwise verify, min-id survivor rule
    and ``keep`` contract are shared with the flat arm
    (:func:`_semantic_verify_heads` / :func:`_semantic_annotate`), so
    only the cluster-assignment strategy differs. With k_eff cells the
    expected cell size is N/k_eff, so the pair join's Σ cell² term keeps
    shrinking as k grows — this is what makes SemDeDup feasible at
    100 TB (k_eff 32k–65k probed on the 200k×256 corpus, BASELINE.md).

    Contract notes: null embeddings and zero-norm vectors always survive
    (no cosine direction — they're excluded from pairing; zero-norm rows
    STILL participate in the quantizer, whose grid distance is defined
    for them, keeping cell ids identical to a standalone
    ``embedding_kmeans_hier`` run). Cells above ``max_cluster_size``
    are dropped from pairing (fail-safe cap, same policy as the flat
    arm / LSH buckets).
    """
    if keep not in ("survivors", "all"):
        raise ValueError(f"dedup_semantic_hier: unknown keep {keep!r}")
    dim_arg = dim

    def _dedup(df: DataFrame) -> DataFrame:
        from lakehouse_engine_spark.datapipes.clustering import (
            embedding_kmeans_hier,
        )

        cells = df.transform(
            embedding_kmeans_hier(
                id_col=id_col,
                input_col=embedding_col,
                k_coarse=k_coarse,
                k_fine=k_fine,
                coarse_iterations=coarse_iterations,
                fine_iterations=fine_iterations,
                quant_scale=quant_scale,
                output_col="__sdh",
            )
        ).drop("__sdh_coarse", "__sdh_fine", "__sdh_dist")
        dim = dim_arg if dim_arg is not None else vector_width(cells, embedding_col)
        if dim == 0:
            out = cells.drop("__sdh").withColumn(
                "dup_group_id", F.lit(None).cast(df.schema[id_col].dataType)
            ).withColumn("is_duplicate", F.lit(False))
            if keep == "survivors":
                return out.drop("is_duplicate", "dup_group_id")
            return out
        vec = F.col(embedding_col).cast("array<double>")
        base = ensure_parallelism(cells).select(
            F.col(id_col).alias("__sid"),
            F.col("__sdh").alias("__cid"),
            _l2_norm(vec).alias("__norm"),
            *[F.element_at(vec, i + 1).alias(f"__e{i}") for i in range(dim)],
        )
        # zero-norm / null-cell rows skip pairing (they can never reach
        # `heads`, so the annotate left-join keeps them as survivors)
        assigned = _cap_buckets(
            base.filter((F.col("__norm") > 0) & F.col("__cid").isNotNull()),
            ["__cid"],
            max_cluster_size,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # SLIM pair join (ids+cell only), vectors re-attached once per
        # pair — the dedup_embedding_cosine LSH design. The flat arm
        # fuses the scalars through its pair join because its regime is
        # modest dims / capped cells; HERE the target regime is wide dims
        # (256+) and dup-dense cells, where carrying 2 x dim doubles per
        # candidate pair multiplies shuffle bytes by ~dim (a 200k x 256
        # probe with 100-member duplicate families spilled hundreds of
        # GB through the fused join; the slim join ships 16 bytes/pair).
        slim = assigned.select("__sid", "__cid")
        pairs = (
            slim.alias("l")
            .join(
                slim.alias("r"),
                (F.col("l.__cid") == F.col("r.__cid"))
                & (F.col("l.__sid") > F.col("r.__sid")),
            )
            .select(
                F.col("l.__sid").alias("__id"),
                F.col("r.__sid").alias("__cand"),
            )
        )
        vecs = assigned.drop("__cid")
        cands = (
            pairs.join(
                vecs.select(
                    F.col("__sid").alias("__id"),
                    F.col("__norm").alias("__n1"),
                    *[F.expr(f"__e{i} as __l{i}") for i in range(dim)],
                ),
                "__id",
            )
            .join(
                vecs.select(
                    F.col("__sid").alias("__cand"),
                    F.col("__norm").alias("__n2"),
                    *[F.expr(f"__e{i} as __r{i}") for i in range(dim)],
                ),
                "__cand",
            )
        )
        pdot = dot_cols("__l{i}", "__r{i}", dim)
        heads = (
            cands.filter(pdot / (F.col("__n1") * F.col("__n2")) >= threshold)
            .groupBy("__id")
            .agg(F.min("__cand").alias("dup_group_id"))
        )
        return _semantic_annotate(df, id_col, heads, keep)

    return _dedup


def _compact_state(spark, location: str, max_files: int) -> None:
    """Rewrite the digest state as a small number of files once the
    accumulated per-run appends exceed ``max_files`` parquet parts. At
    daily-ingest cadence the state otherwise becomes thousands of tiny
    files and every anti-join pays their open/footer cost. The rewrite is
    the ``fs_utils`` commit (stage into ``<location>__staging``, swap with
    a ``__old`` backup); the ``fs_utils.heal`` every incremental op runs
    before reading the state repairs a crash inside the swap, so no later
    run can mistake it for a first run. On object stores without atomic
    dir rename (S3A), renames are slow copies — prefer
    ``compact_after_files=0`` there and compact offline."""
    parts = [n for n in fs_utils.list_names(spark, location) if n.startswith("part-")]
    if len(parts) <= max_files:
        return
    state = spark.read.parquet(location).select("digest").distinct()
    # ~1M md5 digests per file keeps files in the tens of MB
    n_rows = state.count()
    n_files = max(1, (n_rows + 999_999) // 1_000_000)
    fs_utils.stage(spark, location, state.coalesce(n_files))
    fs_utils.swap(spark, location)


def _read_state(op: str, df: DataFrame, location: str) -> Optional[DataFrame]:
    """Open the digest state for one batch (the module docstring's state
    contract): refuse a stream, heal, then the ``digest`` column, or None
    when no state exists yet (a first run)."""
    if df.isStreaming:
        raise ValueError(
            f"{op} is batch-only (cross-RUN state); in a streaming ACON it "
            "is re-planned into foreachBatch automatically"
        )
    if not fs_utils.heal(df.sparkSession, location):
        return None
    return df.sparkSession.read.parquet(location).select("digest")


def _commit_state(
    result: DataFrame,
    location: str,
    new_digests: Callable[[DataFrame], DataFrame],
    seen: Optional[DataFrame],
    update_state: bool,
    compact_after_files: int,
) -> DataFrame:
    """``localCheckpoint`` the op's ``result``, then (unless
    ``update_state=False``) append ``new_digests(result)`` to the state
    and compact it past ``compact_after_files`` parts. The digests are
    anti-joined against ``seen`` first; pass None when they are fresh
    already. Returns the checkpointed result."""
    result = result.localCheckpoint(eager=True)
    if update_state:
        digests = new_digests(result)
        if seen is not None:
            digests = digests.join(seen, "digest", "left_anti")
        digests.write.mode("append").parquet(location)
        if compact_after_files:
            _compact_state(result.sparkSession, location, compact_after_files)
    return result


@register("dedup_incremental_exact")
def dedup_incremental_exact(
    state_location: str,
    key_cols: List[str],
    id_col: str,
    normalize: bool = False,
    update_state: bool = True,
    compact_after_files: int = 64,
) -> TransformerFn:
    """CROSS-RUN exact dedup against a persistent digest state: drop rows
    whose key digest was seen in ANY previous run (the state parquet at
    ``state_location``), dedupe the current batch itself (min ``id_col``
    survivor, the ``dedup_exact`` contract), and append the batch's new
    digests to the state for the next run. This is the production shape
    of corpus ingestion — each crawl/delivery dedupes against everything
    already ingested without re-reading the corpus, only its digests.
    The state (one md5 per unique key ever seen) follows the module
    docstring's contract.

    Scale design: the previously-seen drop is a digest-keyed LEFT ANTI
    join (shuffle on the digest, no broadcast of anything unbounded); the
    in-batch survivor pick is the same min-id aggregation as
    ``dedup_exact``; the survivors' digests are new and distinct, so the
    append needs no second anti-join.
    """
    if not key_cols:
        raise ValueError("dedup_incremental_exact: key_cols must be non-empty")

    def _dedup(df: DataFrame) -> DataFrame:
        seen = _read_state("dedup_incremental_exact", df, state_location)
        keys = [F.col(c) for c in key_cols]
        if normalize:
            keys = [
                F.regexp_replace(F.lower(F.trim(k)), r"\s+", " ") for k in keys
            ]
        digest = F.md5(F.concat_ws("\x1f", *[k.cast("string") for k in keys]))
        fresh = df.withColumn("__digest", digest)
        if seen is not None:
            fresh = fresh.join(
                seen.withColumnRenamed("digest", "__digest"), "__digest", "left_anti"
            )
        w_best = Window.partitionBy("__digest").orderBy(F.col(id_col).asc())
        survivors = (
            fresh.withColumn("__rn", F.row_number().over(w_best))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # the survivors' digests are fresh and distinct already: no anti-join
        return _commit_state(
            survivors,
            state_location,
            lambda kept: kept.select(F.col("__digest").alias("digest")),
            None,
            update_state,
            compact_after_files,
        ).drop("__digest")

    return _dedup


@register("dedup_incremental_minhash")
def dedup_incremental_minhash(
    state_location: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_size: int = 3,
    update_state: bool = True,
    compact_after_files: int = 64,
) -> TransformerFn:
    """CROSS-RUN near-duplicate dedup: drop documents sharing any MinHash
    band bucket with anything kept in ANY previous run, dedupe the batch
    itself with the ``dedup_minhash_lsh`` bucket-min rule, and append the
    survivors' band hashes to the state. The near-dup sibling of
    ``dedup_incremental_exact`` — the daily-crawl production shape, where
    today's delivery must collapse against months of history without
    re-reading it: only the history's BUCKET HASHES persist
    (``bands`` md5 strings per kept doc — bytes per corpus row).

    Order of rules matters: history first (a doc colliding with history is
    gone regardless of in-batch standing), THEN the in-batch bucket-min
    among the remaining docs — so a history-dup can never claim a bucket
    minimum and drag down a legitimate newcomer. The state follows the
    module docstring's contract; the appended bucket hashes are distinct
    and anti-joined against it.

    Scale: the signature pipeline (the md5-heavy part) runs ONCE into a
    persisted ids+buckets frame; every join after that is ids/hashes only
    — history flagging is one bucket-keyed join + an id anti-join, the
    in-batch rule is the single-window dedup_minhash_lsh shape, the state
    append a distinct + anti-join. Nothing unbounded broadcasts.
    """
    _validate_banding("dedup_incremental_minhash", num_hashes, bands)
    rows = num_hashes // bands

    def _dedup(df: DataFrame) -> DataFrame:
        seen = _read_state("dedup_incremental_minhash", df, state_location)
        sig = _minhash_sig_df(df, text_col, id_col, num_hashes, shingle_size)
        exploded = _band_exploded(sig, bands, rows).persist()
        try:
            fresh_exploded = exploded
            if seen is not None:
                hist_ids = (
                    exploded.join(seen.select(F.col("digest").alias("__h")), "__h", "left_semi")
                    .select("__id")
                    .distinct()
                )
                fresh_exploded = exploded.join(hist_ids, "__id", "left_anti")
            head = (
                fresh_exploded.withColumn(
                    "__bucket_min", F.min("__id").over(Window.partitionBy("__h"))
                )
                .groupBy("__id")
                .agg(F.min("__bucket_min").alias("__head"))
                .filter(F.col("__head") == F.col("__id"))
                .select("__id")
            )
            return _commit_state(
                df.join(head, df[id_col] == head["__id"], "left_semi"),
                state_location,
                lambda kept: (
                    exploded.join(kept.select(F.col(id_col).alias("__id")), "__id")
                    .select(F.col("__h").alias("digest"))
                    .distinct()
                ),
                seen,
                update_state,
                compact_after_files,
            )
        finally:
            exploded.unpersist()

    return _dedup


@register("dedup_incremental_embedding")
def dedup_incremental_embedding(
    state_location: str,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.98,
    num_planes: int = 12,
    num_tables: int = 4,
    max_bucket_size: Optional[int] = 10_000,
    pair_budget: Optional[int] = None,
    update_state: bool = True,
    compact_after_files: int = 64,
    dim: Optional[int] = None,
) -> TransformerFn:
    """CROSS-RUN embedding near-dup dedup — the dense-representation arm
    of the incremental family: drop vectors sharing any random-hyperplane
    bucket with anything kept in ANY previous run, dedupe the batch
    itself with ``dedup_embedding_cosine``'s LSH+exact-verify rule, and
    append the survivors' bucket hashes to the state.

    The state follows the module docstring's contract and holds BUCKET
    HASHES ONLY — ``num_tables`` md5 strings per kept vector; the
    embeddings themselves never persist. The hyperplanes are seeded
    literals (``similarity.hyperplane_signatures``), so signatures are
    re-derivable across runs/restarts and the state stays meaningful.
    Consequence, documented: the HISTORY drop is bucket-collision only
    (no vectors in the state to cosine-verify against) — at the tight
    thresholds this family targets (~0.98) a full-signature sign-LSH
    collision implies a tiny angle, so precision tracks the batch arm's;
    the IN-BATCH rule among fresh vectors keeps the full exact-cosine
    verify. Order of rules matches the MinHash arm: history first, then
    in-batch — a history-dup can never suppress a legitimate newcomer.

    Zero-norm and null embeddings have no cosine direction: they skip
    buckets and pairing and always survive (and never enter the state).

    Scale: history flagging is one bucket-hash semi-join + an id
    anti-join (ids/hashes only); the in-batch verify re-attaches vectors
    once per UNIQUE candidate pair (the batch arm's slim-join design);
    the state append is a distinct + anti-join. Nothing unbounded
    broadcasts, state grows by ``num_tables`` rows per NEW kept vector.
    """
    dim_arg = dim

    def _dedup(df: DataFrame) -> DataFrame:
        from lakehouse_engine_spark.datapipes.similarity import (
            hyperplane_signatures,
        )

        seen = _read_state("dedup_incremental_embedding", df, state_location)
        dim = dim_arg if dim_arg is not None else vector_width(df, embedding_col) or 1
        sigs = (
            hyperplane_signatures(
                df, embedding_col, id_col, num_planes, num_tables, dim=dim
            )
            .withColumn(
                "__h",
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("__t").cast("string"),
                        F.col("__sig").cast("string"),
                    )
                ),
            )
            .withColumn("__norm", _l2_norm(F.col("__bv")))
            .filter(F.col("__norm") > 0)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            fresh_sigs = sigs
            hist_ids = None
            if seen is not None:
                hist_ids = (
                    sigs.join(seen.select(F.col("digest").alias("__h")), "__h", "left_semi")
                    .select("__bid")
                    .distinct()
                )
                fresh_sigs = sigs.join(hist_ids, "__bid", "left_anti")
            # in-batch rule among fresh vectors: the batch arm's capped
            # bucket join + exact-cosine verify
            capped = _cap_buckets(fresh_sigs, ["__t", "__sig"], max_bucket_size, pair_budget)
            dup_ids = (
                _cosine_lsh_pairs(capped, capped, dim, threshold, vectors=sigs)
                .select("__id")
                .distinct()
            )
            dropped = (
                hist_ids.select(F.col("__bid").alias("__id")).union(dup_ids)
                if hist_ids is not None
                else dup_ids
            )
            return _commit_state(
                df.join(dropped, df[id_col] == dropped["__id"], "left_anti"),
                state_location,
                lambda kept: (
                    sigs.join(kept.select(F.col(id_col).alias("__bid")), "__bid")
                    .select(F.col("__h").alias("digest"))
                    .distinct()
                ),
                seen,
                update_state,
                compact_after_files,
            )
        finally:
            sigs.unpersist()

    return _dedup


@register("text_winnow_overlap")
def text_winnow_overlap(
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_bucket_size: Optional[int] = 10_000,
    pair_budget: Optional[int] = None,
) -> TransformerFn:
    """MOSS-style copy-detection REPORT: document pairs ranked by shared
    winnowing fingerprints (:func:`text.winnow_fingerprint` supplies the
    selected gram values) — the step MOSS itself performs after
    winnowing. Where the dedup family answers "collapse these", this
    answers "SHOW me the overlapping pairs and how much they share":
    plagiarism/provenance review, license-boilerplate audits, contaminated
    -span triage. Output: ``(doc_a, doc_b, shared_fps)`` with
    ``doc_a < doc_b`` and ``shared_fps >= min_shared`` distinct shared
    fingerprint VALUES.

    Scale design: the pair join is an equi-join on the fingerprint value
    over DISTINCT (doc, fp) rows — never all-pairs; ubiquitous
    fingerprints (template/boilerplate grams shared by everything) are
    dropped by the same :func:`_cap_buckets` cap/:``pair_budget`` rule
    as the LSH dedup family, BEFORE pairing. The per-pair count is one
    map-side-combined aggregation on the (a, b) key.
    """
    if min_shared < 1:
        raise ValueError(f"text_winnow_overlap: min_shared must be >= 1, got {min_shared}")

    def _overlap(df: DataFrame) -> DataFrame:
        fps = winnow_fingerprint(
            input_col=text_col, id_col=id_col, k=k, window=window
        )(df)
        f = _cap_buckets(
            fps.select(F.col(id_col).alias("__id"), "fp").distinct(),
            ["fp"],
            max_bucket_size,
            pair_budget,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        pairs = (
            f.alias("l")
            .join(f.alias("r"), "fp")
            .filter(F.col("l.__id") < F.col("r.__id"))
            .groupBy(
                F.col("l.__id").alias("doc_a"), F.col("r.__id").alias("doc_b")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
            .filter(F.col("shared_fps") >= min_shared)
        )
        return pairs

    return _overlap


@register("text_paragraph_dedup")
def text_paragraph_dedup(
    input_col: str = "text",
    id_col: str = "doc_id",
    sep: str = r"\n",
    joiner: str = "\n",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_size: int = 3,
    keep: str = "reassembled",
) -> TransformerFn:
    """Paragraph-granularity near-dedup with document RECONSTRUCTION —
    the RefinedWeb/C4-style sub-document pass: documents split on
    ``sep``, every paragraph MinHash-banded corpus-wide, near-duplicate
    paragraphs dropped (keep the lowest (doc, position) copy — the
    ``dedup_minhash_lsh`` bucket-min rule at paragraph scope), and each
    document reassembled from its surviving paragraphs in order. Where
    ``text_line_dedup`` removes EXACT repeated lines, this removes
    boilerplate paragraphs that vary slightly per page (footers with
    dates, templated disclaimers).

    ``keep="reassembled"`` (default): one row per input doc —
    ``text_dedup`` (surviving paragraphs joined with ``joiner``; empty
    string when everything was boilerplate), ``n_paragraphs``,
    ``n_kept``. ``keep="paragraphs"``: the exploded per-paragraph view
    ``(id, paragraph_pos, paragraph, is_duplicate)`` for auditing.

    Determinism/oracle contract: the paragraph key is
    ``id·10⁶ + position`` (positions 1-based; documents must stay under
    10⁶ paragraphs), bucket survivor = the bucket's minimum key, and
    the signature/band pipeline is the corpus-wide
    :func:`minhash_signature` convention — fully SQL-replayable.

    Scale design: paragraphs explode once; signatures are a pure
    codegen projection per paragraph; the only shuffles are the band
    bucket-min aggregate, the dup semi-join back on the bucket, and the
    per-doc reassembly — all keyed, no pair joins at all (the bucket-min
    rule needs no pairwise verify).
    """
    if keep not in ("reassembled", "paragraphs"):
        raise ValueError(
            f"text_paragraph_dedup: keep must be reassembled|paragraphs, got {keep!r}"
        )
    _validate_banding("text_paragraph_dedup", num_hashes, bands)
    rows = num_hashes // bands

    def _fn(df: DataFrame) -> DataFrame:
        from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

        id_type = df.schema[id_col].dataType
        if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
            raise TypeError(
                f"text_paragraph_dedup: id_col {id_col!r} must be an integral "
                f"type (the synthetic paragraph key is id*1_000_000 + pos), "
                f"got {id_type.simpleString()}; derive a bigint id first "
                f"(e.g. xxhash64(id) via a selector transformer)"
            )
        # keys must stay injective: pos < 1e6 and id*1e6+pos inside bigint.
        # Enforced per-row with raise_error (a codegen branch, not an extra
        # action) instead of only documenting the bound.
        max_id = (2**63 - 1) // 1_000_000 - 1
        # two-sided range check, NOT abs(): abs(Long.MIN_VALUE) overflows
        # back to Long.MIN_VALUE in non-ANSI Spark and would slip past a
        # single `> max_id` comparison (id=-2^63 is reachable via the
        # docstring's own xxhash64 recommendation)
        key_expr = F.when(
            (F.col("__pos0") + 1 >= 1_000_000)
            | (F.col("__id").cast("long") > max_id)
            | (F.col("__id").cast("long") < -max_id),
            F.raise_error(
                F.concat(
                    F.lit(
                        "text_paragraph_dedup: paragraph key out of range "
                        "(need paragraph_pos < 1e6 and |doc_id| < 9.2e12): "
                        "doc_id="
                    ),
                    F.col("__id").cast("string"),
                    F.lit(" paragraph_pos="),
                    (F.col("__pos0") + 1).cast("string"),
                )
            ).cast("long"),
        ).otherwise(F.col("__id").cast("long") * 1_000_000 + F.col("__pos0") + 1)
        paras = (
            # per-paragraph signature folds are expression-heavy: raise a
            # starved scan to session parallelism first (no-op at
            # production split counts)
            ensure_parallelism(df)
            .select(
                F.col(id_col).alias("__id"),
                F.posexplode(F.split(F.col(input_col), sep)).alias("__pos0", "__p"),
            )
            .filter(F.trim(F.col("__p")) != "")
            .select(
                "__id",
                (F.col("__pos0") + 1).alias("__pos"),
                "__p",
                key_expr.alias("__key"),
            )
        )
        sig = paras.withColumn(
            "__sig", minhash_signature(F.col("__p"), num_hashes, shingle_size)
        )
        band_cols = [
            F.md5(
                F.concat(
                    F.lit(f"{b}:"),
                    F.concat_ws(
                        "|",
                        *[
                            F.element_at("__sig", b * rows + r + 1).cast("string")
                            for r in range(rows)
                        ],
                    ),
                )
            )
            for b in range(bands)
        ]
        buckets = sig.select(
            "__key", F.explode(F.array(*band_cols)).alias("__b")
        )
        mins = buckets.groupBy("__b").agg(F.min("__key").alias("__m"))
        dups = (
            buckets.join(mins, "__b")
            .filter(F.col("__key") > F.col("__m"))
            .select("__key")
            .distinct()
        )
        dup_keys = dups.select(F.col("__key").alias("__dupkey"))
        flagged = paras.join(
            dup_keys, paras["__key"] == dup_keys["__dupkey"], "left"
        ).select(
            "__id",
            "__pos",
            "__p",
            "__key",
            F.col("__dupkey").isNotNull().alias("__dup"),
        )
        if keep == "paragraphs":
            return flagged.select(
                F.col("__id").alias(id_col),
                F.col("__pos").alias("paragraph_pos"),
                F.col("__p").alias("paragraph"),
                F.col("__dup").alias("is_duplicate"),
            )
        per_doc = (
            flagged.groupBy("__id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_paragraphs"),
                F.sum((~F.col("__dup")).cast("long")).alias("n_kept"),
                F.concat_ws(
                    joiner,
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    ~F.col("__dup"),
                                    F.struct(F.col("__pos"), F.col("__p")),
                                )
                            )
                        ),
                        lambda x: x["__p"],
                    ),
                ).alias("text_dedup"),
            )
        )
        return (
            df.join(per_doc, df[id_col] == per_doc["__id"], "left")
            .drop("__id")
            .withColumn("n_paragraphs", F.coalesce("n_paragraphs", F.lit(0)))
            .withColumn("n_kept", F.coalesce("n_kept", F.lit(0)))
            .withColumn("text_dedup", F.coalesce("text_dedup", F.lit("")))
        )

    return _fn


@register("text_winnow_cross_overlap")
def text_winnow_cross_overlap(
    other_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    other_text_col: str = "text",
    other_id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_bucket_size: Optional[int] = 10_000,
    pair_budget: Optional[int] = None,
    broadcast_other: bool = False,
) -> TransformerFn:
    """Cross-corpus MOSS overlap: main documents scored against a
    REFERENCE corpus by shared winnowing fingerprints — provenance and
    plagiarism screening against a known set (benchmark test splits, a
    licensed-out corpus, an earlier release). Where
    ``text_decontaminate`` asks "does this doc contain any benchmark
    n-gram", this LOCALIZES and RANKS: ``(doc_id, ref_id, shared_fps)``
    pairs with ``doc_id`` from the main corpus, ``ref_id`` from the
    reference, surviving ``min_shared`` distinct shared fingerprints —
    the winnowing guarantee makes any verbatim run of
    ``window + k − 1`` normalized chars detectable.

    Scale design: both sides reduce to DISTINCT (id, fp) rows; ubiquitous
    fingerprints drop by the LSH family's cap/:``pair_budget`` rule
    applied to the UNION of both sides (a gram common across either
    corpus is boilerplate); the pair join is fp-equi, main×ref only.
    ``broadcast_other=True`` broadcasts the reference fingerprint set —
    the decontamination posture when the reference is benchmark-sized.
    """
    if min_shared < 1:
        raise ValueError(
            f"text_winnow_cross_overlap: min_shared must be >= 1, got {min_shared}"
        )

    from lakehouse_engine_spark.datapipes.text import winnow_fingerprint

    def _overlap(df: DataFrame) -> DataFrame:
        # persist both fingerprint sets: each feeds the union boilerplate
        # cap AND the pair join — un-persisted, the per-doc winnow chain
        # (the expensive projection) would run TWICE per side
        main = (
            winnow_fingerprint(input_col=text_col, id_col=id_col, k=k, window=window)(df)
            .select(F.col(id_col).alias("__mid"), "fp")
            .distinct()
        ).persist(StorageLevel.MEMORY_AND_DISK)
        ref = (
            winnow_fingerprint(
                input_col=other_text_col, id_col=other_id_col, k=k, window=window
            )(other_df)
            .select(F.col(other_id_col).alias("__rid"), "fp")
            .distinct()
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # boilerplate cap over BOTH corpora: a fingerprint's bucket is its
        # total membership across main+ref
        both = main.select("fp").unionByName(ref.select("fp"))
        cap = _effective_cap(max_bucket_size, pair_budget)
        if cap is not None:
            hot = (
                both.groupBy("fp")
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > cap)
                .select("fp")
            )
            main = main.join(hot, "fp", "left_anti")
            ref = ref.join(hot, "fp", "left_anti")
        r = F.broadcast(ref) if broadcast_other else ref
        return (
            main.join(r, "fp")
            .groupBy(F.col("__mid").alias("doc_id"), F.col("__rid").alias("ref_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
            .filter(F.col("shared_fps") >= min_shared)
        )

    return _overlap


register_with(
    "text_winnow_cross_overlap_with", text_winnow_cross_overlap, "other", "other_df"
)


@register("text_winnow_incremental")
def text_winnow_incremental(
    state_location: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    mode: str = "flag",  # flag | drop
    update_state: bool = True,
    compact_after_files: int = 64,
) -> TransformerFn:
    """CROSS-RUN copy-detection against a persistent winnowing-fingerprint
    state: every delivery is screened for verbatim overlap with EVERYTHING
    previously ingested — without re-reading the corpus, only its selected
    fingerprints (the MOSS guarantee localizes any verbatim run of
    ``window + k − 1`` normalized chars). The incremental sibling of
    ``dedup_incremental_exact`` (whole-doc digests) and
    ``dedup_incremental_minhash`` (near-dup signatures): those ask "have
    I seen this DOCUMENT", this asks "have I seen this TEXT anywhere,
    in any document".

    Output (``mode="flag"``): the input plus ``hist_shared_fps``
    (distinct fingerprints shared with the state) and ``is_seen``
    (``>= min_shared``). ``mode="drop"`` keeps only unseen docs. In both
    modes the state then grows by the batch's NEW fingerprints —
    contributed by surviving docs only under ``drop`` (a rejected doc
    must not poison the state with text it merely copied), by all docs
    under ``flag``. ``update_state=False`` is the dry-run probe.

    The state follows the module docstring's contract; its ``digest``
    column holds fingerprints (one BIGINT per distinct selected gram,
    ~1/window of the corpus grams). The screen is one fp-keyed
    semi-join-shaped count — no pair joins; ubiquitous-boilerplate
    control is ``min_shared`` (a doc must share that many DISTINCT
    fingerprints with history).
    """
    if mode not in ("flag", "drop"):
        raise ValueError(f"text_winnow_incremental: mode must be flag|drop, got {mode!r}")
    if min_shared < 1:
        raise ValueError(
            f"text_winnow_incremental: min_shared must be >= 1, got {min_shared}"
        )

    from lakehouse_engine_spark.datapipes.text import winnow_fingerprint

    def _fn(df: DataFrame) -> DataFrame:
        seen = _read_state("text_winnow_incremental", df, state_location)
        fps = (
            winnow_fingerprint(input_col=text_col, id_col=id_col, k=k, window=window)(df)
            .select(F.col(id_col).alias("__id"), "fp")
            .distinct()
        )
        if seen is None:
            out = df.withColumn("hist_shared_fps", F.lit(0).cast("long"))
        else:
            hits = (
                fps.join(seen.select(F.col("digest").alias("fp")).distinct(), "fp")
                .groupBy("__id")
                .agg(F.count(F.lit(1)).cast("long").alias("hist_shared_fps"))
            )
            out = df.join(hits, df[id_col] == hits["__id"], "left").drop("__id")
            out = out.withColumn(
                "hist_shared_fps", F.coalesce("hist_shared_fps", F.lit(0))
            )
        out = out.withColumn("is_seen", F.col("hist_shared_fps") >= min_shared)
        if mode == "drop":
            out = out.filter(~F.col("is_seen")).drop("hist_shared_fps", "is_seen")

        def _new_fps(kept: DataFrame) -> DataFrame:
            # a doc dropped as seen must not add the text it copied
            ids = (kept if mode == "drop" else df).select(F.col(id_col).alias("__kid"))
            return (
                fps.join(ids, fps["__id"] == ids["__kid"], "left_semi")
                .select(F.col("fp").alias("digest"))
                .distinct()
            )

        return _commit_state(
            out, state_location, _new_fps, seen, update_state, compact_after_files
        )

    return _fn
