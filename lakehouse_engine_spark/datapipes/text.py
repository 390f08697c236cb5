"""Text analysis operators for training-data pipelines.

Language-ID (stopword n-gram heuristic), quality scoring, token counting,
and document fingerprinting — all pure ``pyspark.sql.functions`` column
expressions (whole-stage codegen, zero Python in the hot path, zero
shuffles: every operator is a projection).

Design note: every expression here is chosen to be *portable to ANSI SQL /
DuckDB* so the driver's oracle can value-hash-match results (md5 instead of
xxhash64, regexp token rules identical in Java and RE2).
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakehouse_engine_spark.datapipes.colbuild import log_grid, md5_fold
from lakehouse_engine_spark.datapipes.driver_tier import fits_broadcast
from lakehouse_engine_spark.datapipes.materialize import probe_materialize
from lakehouse_engine_spark.datapipes.parallel import ensure_parallelism
from lakehouse_engine_spark.datapipes.registry import register, register_with

TransformerFn = Callable[[DataFrame], DataFrame]

# whitespace tokens; filter('' ) guards leading/trailing whitespace
def tokens(col: Column) -> Column:
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")


def tokens_lower(col: Column) -> Column:
    return tokens(F.lower(col))


# Line-level whitespace trim shared by the line dedup/stats family:
# an explicit class, NOT F.trim (strips 0x20 only — CRLF pages end every
# line in \r, so blank separators survived "trimmed" checks and got
# corpus-wide deduplicated; r14 review finding, reproduced) and NOT \s
# (Java includes \x0b, RE2 excludes it — the class below is identical
# in Java regex, RE2, and the DuckDB oracles).
LINE_WS_CLASS = r"[\t\x0b\f\r ]"


def ws_line_trim(c):
    return F.regexp_replace(
        c, f"^{LINE_WS_CLASS}+|{LINE_WS_CLASS}+$", ""
    )


# BPE-ish lexer: word pieces OR runs of non-word/non-space punctuation —
# approximates subword token counts without a tokenizer model.
BPE_ISH_REGEX = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

# The Gopher paper's exact 8-word stop set (Rae et al. 2021 §A1.1:
# "contains at least 2 of the following English words") — distinct from
# the langid STOPWORDS profiles below, which serve a different heuristic.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
STOPWORDS: Dict[str, List[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was", "with", "on"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein", "eine", "zu"],
    "fr": ["le", "la", "les", "et", "est", "des", "un", "une", "du", "que", "pour", "dans"],
    "es": ["el", "la", "los", "las", "es", "de", "un", "una", "que", "por", "para", "con"],
}


@register("text_token_count", streaming_ok=True)
def token_count(
    input_col: str = "text",
    output_col: str = "n_tokens",
    bpe_ish: bool = True,
) -> TransformerFn:
    """Token counting: whitespace or BPE-ish regex lexing."""

    def _count(df: DataFrame) -> DataFrame:
        c = F.col(input_col)
        n = (
            F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_REGEX), 0))
            if bpe_ish
            else F.size(tokens(c))
        )
        return df.withColumn(output_col, n.cast("int"))

    return _count


@register("text_quality_score", streaming_ok=True)
def quality_score(input_col: str = "text", lang: str = "en") -> TransformerFn:
    """Heuristic document quality features + composite score.

    Emits: n_chars, n_words, mean_word_len, punct_ratio, stopword_ratio,
    upper_ratio, digit_ratio, quality_score (0-1). Mirrors common pretraining
    quality filters (C4/Gopher-style length & symbol heuristics).
    """

    def _score(df: DataFrame) -> DataFrame:
        c = F.col(input_col)
        toks = tokens(c)
        toks_l = tokens_lower(c)
        n_chars = F.length(c)
        n_words = F.size(toks)
        mean_wl = F.when(n_words > 0,
                         (F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
                          .cast("double") / n_words)).otherwise(F.lit(0.0))
        punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
        punct_ratio = F.when(n_chars > 0, punct.cast("double") / n_chars).otherwise(0.0)
        digits = F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))
        digit_ratio = F.when(n_chars > 0, digits.cast("double") / n_chars).otherwise(0.0)
        upper = F.length(c) - F.length(F.regexp_replace(c, r"[A-Z]", ""))
        upper_ratio = F.when(n_chars > 0, upper.cast("double") / n_chars).otherwise(0.0)
        sw = F.array(*[F.lit(w) for w in STOPWORDS.get(lang, STOPWORDS["en"])])
        sw_hits = F.size(F.array_intersect(F.array_distinct(toks_l), sw))
        sw_ratio = F.when(n_words > 0, sw_hits.cast("double") / F.least(n_words, F.lit(12))).otherwise(0.0)
        score = (
            F.when((n_words >= 10) & (n_words <= 100000), F.lit(0.25)).otherwise(0.0)
            + F.when((mean_wl >= 3) & (mean_wl <= 12), F.lit(0.25)).otherwise(0.0)
            + F.when(punct_ratio < 0.3, F.lit(0.25)).otherwise(0.0)
            + F.least(sw_ratio, F.lit(1.0)) * 0.25
        )
        return df.withColumns(
            {
                "n_chars_q": n_chars.cast("long"),
                "n_words": n_words.cast("int"),
                "mean_word_len": F.round(mean_wl, 4),
                "punct_ratio": F.round(punct_ratio, 4),
                "digit_ratio": F.round(digit_ratio, 4),
                "upper_ratio": F.round(upper_ratio, 4),
                "stopword_ratio": F.round(sw_ratio, 4),
                "quality_score": F.round(score, 4),
            }
        )

    return _score


@register("text_langid", streaming_ok=True)
def langid(input_col: str = "text", output_col: str = "lang_pred") -> TransformerFn:
    """Stopword-profile language ID over {en,de,fr,es}; 'und' when no hits.

    Scales as a pure projection; ties break by fixed language order.
    """

    def _langid(df: DataFrame) -> DataFrame:
        toks = F.array_distinct(tokens_lower(F.col(input_col)))
        scores = {
            lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
            for lang, words in STOPWORDS.items()
        }
        best = F.greatest(*scores.values())
        pred = F.lit("und")
        for lang in reversed(list(STOPWORDS)):  # earlier langs win ties
            pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
        pred = F.when(best > 0, pred).otherwise(F.lit("und"))
        return df.withColumn(output_col, pred)

    return _langid


@register("text_fingerprint", streaming_ok=True)
def fingerprint(input_col: str = "text", output_col: str = "fingerprint") -> TransformerFn:
    """Normalized-token-set fingerprint (OpenRefine-style clustering key):
    md5 over the sorted distinct lowercase alphanumeric-normalized tokens."""

    def _fp(df: DataFrame) -> DataFrame:
        norm = F.regexp_replace(F.lower(F.col(input_col)), r"[^a-z0-9\s]", "")
        key = F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(norm))))
        return df.withColumn(output_col, F.md5(key))

    return _fp


# PII patterns chosen to compile identically under Java regex (Spark) and
# RE2 (DuckDB oracle): no lookaround, no backreferences. Order matters —
# card before phone before ip so longer digit runs win.
PII_PATTERNS: List[tuple] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("card", r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b", "<CARD>"),
    ("phone", r"\+\d{1,3}-\d{3}-\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


@register("text_pii_redact", streaming_ok=True)
def pii_redact(
    input_col: str = "text",
    output_col: str = "text_clean",
    count_col: str = "n_pii",
    kinds: List[str] | None = None,
) -> TransformerFn:
    """PII scrubbing for training corpora: replace emails, payment-card
    numbers, international phone numbers and IPv4 addresses with typed
    placeholder tokens, and count the redactions.

    Pure projection (zero shuffles, whole-stage codegen); patterns apply in
    fixed order so overlapping matches resolve deterministically. The count
    is taken per pattern *before* its replacement, on the text as already
    redacted by earlier patterns — so a string is never counted twice.
    """
    if kinds is not None:
        known = {p[0] for p in PII_PATTERNS}
        unknown = sorted(set(kinds) - known)
        if unknown:
            raise ValueError(
                f"text_pii_redact: unknown kinds {unknown}; valid: "
                f"{sorted(known)} (a typo here would silently disable "
                "redaction while reporting n_pii=0)"
            )
    selected = [p for p in PII_PATTERNS if kinds is None or p[0] in kinds]

    def _redact(df: DataFrame) -> DataFrame:
        cur = F.col(input_col)
        n = F.lit(0)
        for _, pat, token in selected:
            n = n + F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
            cur = F.regexp_replace(cur, pat, token)
        return df.withColumns({output_col: cur, count_col: n.cast("int")})

    return _redact


@register("text_repetition")
def repetition_signals(
    input_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 2,
) -> TransformerFn:
    """Gopher-style repetition signals: distinct-word ratio, top-word
    fraction, and top-``ngram`` fraction per document. High top-fraction /
    low distinct ratio flags boilerplate and degenerate (looping) text.

    Scale design: the mode of a word/n-gram multiset needs a count per
    (doc, gram) — that is explode → two map-side-combined aggregations
    (partial aggs collapse repeated grams before the shuffle, so shuffled
    volume is distinct grams per doc, not corpus token count). The word and
    n-gram pipelines then join on doc id and attach back to the input — all
    equi-joins on the id, AQE-broadcastable when the stats side is small.
    """

    def _rep(df: DataFrame) -> DataFrame:
        base = ensure_parallelism(df).select(
            F.col(id_col).alias("__id"), tokens_lower(F.col(input_col)).alias("__t")
        )
        wcnt = (
            base.select("__id", F.explode("__t").alias("__w"))
            .groupBy("__id", "__w")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        wstats = wcnt.groupBy("__id").agg(
            F.sum("__c").alias("__nw"),
            F.count(F.lit(1)).alias("__dw"),
            F.max("__c").alias("__topw"),
        )
        grams = base.select(
            "__id",
            F.explode(
                F.when(
                    F.size("__t") >= ngram,
                    F.transform(
                        F.sequence(F.lit(1), F.size("__t") - ngram + 1),
                        lambda i: F.concat_ws(" ", F.slice("__t", i, ngram)),
                    ),
                ).otherwise(F.array(F.concat_ws(" ", "__t")))
            ).alias("__g"),
        )
        gcnt = grams.groupBy("__id", "__g").agg(F.count(F.lit(1)).alias("__c"))
        gstats = gcnt.groupBy("__id").agg(
            F.sum("__c").alias("__ng"), F.max("__c").alias("__topg")
        )
        stats = wstats.join(gstats, "__id", "left").select(
            "__id",
            F.col("__nw").cast("int").alias("n_words_r"),
            F.round(F.col("__dw") / F.col("__nw"), 4).alias("distinct_word_ratio"),
            F.round(F.col("__topw") / F.col("__nw"), 4).alias("top_word_ratio"),
            F.round(F.col("__topg") / F.col("__ng"), 4).alias(f"top_{ngram}gram_ratio"),
        )
        out = df.join(stats, df[id_col] == stats["__id"], "left").drop("__id")
        return out.withColumns(
            {
                "n_words_r": F.coalesce("n_words_r", F.lit(0)),
                "distinct_word_ratio": F.coalesce("distinct_word_ratio", F.lit(0.0)),
                "top_word_ratio": F.coalesce("top_word_ratio", F.lit(0.0)),
                f"top_{ngram}gram_ratio": F.coalesce(f"top_{ngram}gram_ratio", F.lit(0.0)),
            }
        )

    return _rep


def _bench_gram_hashes(benchmark_df: DataFrame, text_col: str, ngram: int) -> DataFrame:
    """The md5 of every benchmark word ``ngram``-gram as ``__gh``, NOT
    deduplicated: the decontamination ops probe it with a ``left_semi``
    join, which benchmark duplicates cannot multiply, so a ``distinct``
    would only add an exchange. Broadcast-hinted: eval sets are small.
    The ``""`` gram of a NULL, empty or whitespace-only benchmark row is
    dropped (:func:`_bench_grams`)."""
    return F.broadcast(
        _bench_grams(benchmark_df, text_col, ngram).select(
            F.md5("__g").alias("__gh")
        )
    )


def _bench_grams(benchmark_df: DataFrame, text_col: str, ngram: int) -> DataFrame:
    """Every benchmark word ``ngram``-gram as ``__g``, without the ``""``
    that :func:`shingles` gives a text with no words: that gram is no
    benchmark content, and it would flag every empty corpus document."""
    return benchmark_df.select(
        F.explode(shingles(F.col(text_col), ngram)).alias("__g")
    ).where(F.col("__g") != "")


@register("text_decontaminate")
def decontaminate(
    benchmark_df: DataFrame,
    benchmark_text_col: str = "text",
    input_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    mode: str = "flag",  # flag | drop
) -> TransformerFn:
    """Benchmark decontamination: flag (or drop) documents sharing any word
    ``ngram`` with a benchmark/eval set — the standard guard against test-set
    leakage into pretraining corpora.

    Scale design: the benchmark side is its n-gram hashes
    (:func:`_bench_gram_hashes`, not deduplicated) — for real eval suites
    that is thousands of rows, so it **broadcasts** and the corpus-side
    probe is a map-side ``left_semi`` hash join on a 32-char key, which
    benchmark duplicates cannot multiply; no shuffle of corpus n-grams.
    ``n_contaminated_ngrams`` (distinct matching gram hashes per doc)
    comes from ONE groupBy over the (rare) matching grams, so the plan's
    only corpus-side exchange carries matches, not every document gram.
    """
    if mode not in ("flag", "drop"):
        raise ValueError(
            f"decontaminate: mode must be flag|drop, got {mode!r}"
        )

    def _decon(df: DataFrame) -> DataFrame:
        bench = _bench_gram_hashes(benchmark_df, benchmark_text_col, ngram)
        doc_grams = (
            ensure_parallelism(df)
            .select(
                F.col(id_col).alias("__id"),
                F.explode(shingles(F.col(input_col), ngram)).alias("__g"),
            )
            .select("__id", F.md5("__g").alias("__gh"))
        )
        hits = (
            doc_grams.join(bench, "__gh", "left_semi")
            .groupBy("__id")
            .agg(F.size(F.collect_set("__gh")).alias("__nhit"))
        )
        out = df.join(hits, df[id_col] == hits["__id"], "left").drop("__id")
        out = out.withColumns(
            {
                "n_contaminated_ngrams": F.coalesce("__nhit", F.lit(0)).cast("int"),
                "is_contaminated": F.coalesce("__nhit", F.lit(0)) > 0,
            }
        ).drop("__nhit")
        if mode == "drop":
            return out.filter(~F.col("is_contaminated")).drop(
                "n_contaminated_ngrams", "is_contaminated"
            )
        return out

    return _decon


@register("text_decontaminate_bloom")
def decontaminate_bloom(
    benchmark_df: DataFrame,
    benchmark_text_col: str = "text",
    input_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
    mode: str = "flag",  # flag | drop
) -> TransformerFn:
    """Benchmark decontamination via a Bloom filter instead of a hash-set
    join — the constant-size-sidecar scale path.

    :func:`decontaminate` ships the benchmark's n-gram hashes to
    every probe task (fine for thousands of grams; a liability when the
    "benchmark" is a 100M-gram held-out corpus). This variant folds the
    benchmark into a FIXED-size bitmap (``num_bits``; the default 2^20 bits
    ≈ 131 KiB as ~17,500 packed int64 chunks — 60 set-bits per chunk, never
    touching the sign bit, so the mask arithmetic is portable to engines
    that raise on signed-shift overflow) with ``num_hashes`` probes per
    gram, so the artifact shipped to executors is constant no matter how
    large the benchmark grows, and the corpus-side probe is pure whole-stage
    codegen (map lookup + bitwise AND) — **no join at all** on the 100 TB
    side. One map-side-combined groupBy(id) then counts hitting grams.

    The trade is one-sided error: a set bit can be a collision, so output
    columns are ``n_bloom_hit_ngrams`` / ``maybe_contaminated`` — false
    POSITIVES possible (over-dropping, the safe direction for
    decontamination), false negatives impossible. FP rate ≈
    (1 - e^(-kn/m))^k; at the defaults with a 1M-gram benchmark that is
    ~(0.02)^4 ≈ 1e-7 per probed gram. Size ``num_bits`` ≥ ~10× benchmark
    grams to stay there.

    Determinism/oracle: bit positions are the corpus-wide md5-fold
    convention — h1/h2 are 60-bit md5 prefixes of the gram (the second
    salted with ``#b2``), probe i sets ``(h1 + i*h2) % num_bits`` — so
    DuckDB replays the exact bitmap and the exact collisions.
    """
    if mode not in ("flag", "drop"):
        raise ValueError(
            f"decontaminate_bloom: mode must be flag|drop, got {mode!r}"
        )
    if num_hashes < 1:
        raise ValueError("text_decontaminate_bloom: num_hashes must be >= 1")
    if num_bits < 1:
        raise ValueError(
            f"text_decontaminate_bloom: num_bits must be >= 1, got {num_bits}"
            " (pmod by 0 is an executor-side ANSI divide-by-zero)"
        )
    if num_bits > 1 << 27:
        raise ValueError(
            "text_decontaminate_bloom: num_bits > 2^27 would materialize a "
            ">18 MiB driver-side bitmap literal; shard the benchmark or use "
            "text_decontaminate's hash-set join instead"
        )

    def _h(col: Column, salt: str = "") -> Column:
        c = F.concat(col, F.lit(salt)) if salt else col
        return md5_fold(c)

    def _positions(gram: Column) -> List[Column]:
        # (h1 + i*h2) % m computed as (h1%m + i*(h2%m)) % m: identical
        # residues, but i*(h2 % 2^27) stays far below 2^63 where the raw
        # i*h2 of two 60-bit hashes overflows long for i >= 8 — an ANSI
        # ARITHMETIC_OVERFLOW at num_hashes >= 9 (r14 review, reproduced)
        h1, h2 = _h(gram), _h(gram, "#b2")
        h1m, h2m = F.pmod(h1, F.lit(num_bits)), F.pmod(h2, F.lit(num_bits))
        return [
            F.pmod(h1m + F.lit(i) * h2m, F.lit(num_bits))
            for i in range(num_hashes)
        ]

    # Probe design notes (both rejected shapes die at scale): a MapType
    # bitmap makes element_at a LINEAR SCAN of ~num_bits/60 entries per
    # probe (Spark maps are key/value arrays), and carrying the bitmap as
    # a row COLUMN serializes all ~131 KiB into EVERY gram row (~33 GB of
    # row writes per 235k grams). Instead the bitmap is ONE shared binary
    # literal referenced only inside expressions: each probe extracts a
    # single byte (substr on the shared byte[]), so per-row state is two
    # hoisted hashes + num_hashes byte/bit pairs.
    _GRAM_HIT_SQL = " AND ".join(
        f"(__b{i} & shiftleft(1L, __r{i})) <> 0" for i in range(num_hashes)
    )

    def _bloom(df: DataFrame) -> DataFrame:
        bench_pos = (
            _bench_grams(benchmark_df, benchmark_text_col, ngram)
            .select(F.explode(F.array(*_positions(F.col("__g")))).alias("__p"))
            .distinct()
        )
        # pack set bits into int64 chunks (count <= num_bits/60) and
        # assemble the DENSE bitmap array on the driver — a bounded
        # control-plane artifact (the BPE-merge-table convention; 2^20 bits
        # = 17,476 longs ≈ 140 KiB) shipped to executors as one literal.
        # The bitmap build is two exchanges over DISTINCT positions,
        # independent of corpus size.
        chunks = bench_pos.groupBy(
            F.expr("__p div 60").alias("__c")
        ).agg(F.expr("bit_or(shiftleft(1L, cast(__p % 60 as int)))").alias("__b"))
        ba = bytearray((num_bits + 7) // 8)
        for r in chunks.collect():
            bits, base = r["__b"], r["__c"] * 60
            while bits:
                j = (bits & -bits).bit_length() - 1
                p = base + j
                ba[p >> 3] |= 1 << (p & 7)
                bits &= bits - 1
        bloom = F.lit(bytes(ba))

        probe_cols = {}
        for i in range(num_hashes):
            # same overflow-safe residue arithmetic as _positions (the
            # build side) — raw i*h2 overflows long at i >= 8
            p = F.pmod(
                F.pmod(F.col("__h1"), F.lit(num_bits))
                + F.lit(i) * F.pmod(F.col("__h2"), F.lit(num_bits)),
                F.lit(num_bits),
            )
            byte_pos = F.floor(p / 8).cast("int") + F.lit(1)
            probe_cols[f"__b{i}"] = F.conv(
                F.hex(F.substr(bloom, byte_pos, F.lit(1))), 16, 10
            ).cast("long")
            probe_cols[f"__r{i}"] = F.pmod(p, F.lit(8)).cast("int")

        grams = F.explode(shingles(F.col(input_col), ngram))
        doc_grams = (
            ensure_parallelism(df)
            .select(F.col(id_col).alias("__id"), grams.alias("__g"))
            .withColumns(
                {"__h1": _h(F.col("__g")), "__h2": _h(F.col("__g"), "#b2")}
            )
            .withColumns(probe_cols)
        )
        hits = (
            doc_grams.groupBy("__id")
            .agg(
                F.count_distinct(
                    F.when(F.expr(_GRAM_HIT_SQL), F.col("__g"))
                ).alias("__nhit")
            )
        )
        out = df.join(hits, df[id_col] == hits["__id"], "left").drop("__id")
        out = out.withColumns(
            {
                "n_bloom_hit_ngrams": F.coalesce("__nhit", F.lit(0)).cast("int"),
                "maybe_contaminated": F.coalesce("__nhit", F.lit(0)) > 0,
            }
        ).drop("__nhit")
        if mode == "drop":
            return out.filter(~F.col("maybe_contaminated")).drop(
                "n_bloom_hit_ngrams", "maybe_contaminated"
            )
        return out

    return _bloom


register_with(
    "text_decontaminate_bloom_with",
    decontaminate_bloom,
    "benchmark_with",
    "benchmark_df",
)
register_with(
    "text_decontaminate_with", decontaminate, "benchmark_with", "benchmark_df"
)


@register("vocab_top_k")
def vocab_top_k(
    input_col: str = "text",
    k: int = 100,
) -> TransformerFn:
    """Corpus vocabulary: top-``k`` words by frequency with a deterministic
    total order (count desc, word asc). Returns a corpus-level DataFrame
    (word, n, rank) — an aggregation transformer like ``get_max_value``.

    Scale design: one map-side-combined groupBy shuffles only distinct
    words; the top-k is ``orderBy(...).limit(k)`` — Spark plans that as a
    per-partition TakeOrderedAndProject merged on the driver, NOT a global
    sort shuffle. The rank window then runs over just k rows.
    """

    def _vocab(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        counts = (
            df.select(F.explode(tokens_lower(F.col(input_col))).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("word"))
            .limit(k)
        )
        w = Window.orderBy(F.desc("n"), F.asc("word"))
        return counts.withColumn("rank", F.row_number().over(w))

    return _vocab


@register("text_frequent_terms")
def frequent_terms(
    input_col: str = "text",
    min_support: float = 0.001,
    ngram: int = 1,
) -> TransformerFn:
    """EXACT corpus heavy hitters: every word whose occurrence count is
    ``>= ceil(min_support * total_tokens)``, with exact counts — the
    stopword/boilerplate discovery and vocab-pruning primitive. Returns
    (term, n, support), deterministic.

    Scale design — this is ``vocab_top_k``'s unbounded-vocabulary
    sibling. A straight groupBy must shuffle every distinct term a
    partition holds; at web scale (billions of distinct tokens /
    shingles) the long tail IS the shuffle. Here pass 1 runs a
    Misra-Gries summary per partition inside one Arrow-batched
    ``mapInPandas`` scan with ``k = ceil(1/min_support) + 1`` counters:
    the mergeable-summaries guarantee (Agarwal et al., PODS'12 — public)
    is that any term with partition frequency > n_p/(k+1) survives
    pruning, and a term with GLOBAL support >= min_support must clear
    that bar in at least one partition (pigeonhole), so the union of
    partition candidates is a SUPERSET of the answer — at most k rows
    per partition ever reach the shuffle, independent of vocabulary
    size. Pass 2 re-scans the corpus once and exact-counts ONLY the
    candidate terms (hash semi-join against the deduped candidate set —
    broadcast while :func:`driver_tier.fits_broadcast` passes), then
    applies the exact threshold.
    Recompute-over-shuffle, the same trade recorded for ``dsir_score``
    in BASELINE.md: two cheap scans beat shuffling an unbounded tail.

    Tokenization matches ``vocab_top_k`` (lowercased whitespace split),
    so the SQL oracle replays it term-for-term; the threshold is
    ``ceil`` of one IEEE double product, identical cross-engine.

    ``ngram > 1`` runs the same machinery over word n-gram shingles
    (the ``text_ngram_counts`` convention: short docs contribute their
    single joined shingle) — the regime the MG candidate pass exists
    for, since distinct shingles grow without bound where distinct
    words merely grow slowly.
    """
    if not (0.0 < min_support <= 1.0):
        raise ValueError(
            f"text_frequent_terms: min_support must be in (0, 1], got "
            f"{min_support}"
        )
    if ngram < 1:
        raise ValueError(
            f"text_frequent_terms: ngram must be >= 1, got {ngram}"
        )
    counters = int(math.ceil(1.0 / min_support)) + 1

    def _mg_prune(cnt: dict, k: int) -> dict:
        if len(cnt) <= k:
            return cnt
        vals = sorted(cnt.values(), reverse=True)
        d = vals[k]  # the (k+1)-th largest count
        return {t: c - d for t, c in cnt.items() if c > d}

    def _freq(df: DataFrame) -> DataFrame:
        from pyspark import StorageLevel

        def _stream() -> Column:
            if ngram == 1:
                return tokens_lower(F.col(input_col))
            # empty docs' degenerate "" shingle is dropped (the
            # text_ngram_counts post-explode filter, applied in-array)
            return F.filter(
                shingles(F.col(input_col), ngram), lambda s: s != ""
            )

        # spread only the shingle regime: n-gram construction is the
        # per-row-heavy pass a starved scan serializes (8.9 s -> 2.2 s
        # for the bigram query at sf0.1); a unigram whitespace split is
        # IO-bound, so the extra text shuffle would only add work
        sdf = ensure_parallelism(df) if ngram > 1 else df
        toks = sdf.select(_stream().alias("__ft_toks"))

        def part(batches):
            from collections import Counter

            cnt: dict = Counter()
            total = 0
            for pdf in batches:
                flat: list = []
                for arr in pdf["__ft_toks"]:
                    if arr is not None:
                        flat.extend(arr.tolist())
                total += len(flat)
                cnt.update(flat)
                if len(cnt) > 8 * counters:
                    cnt = Counter(_mg_prune(cnt, counters))
            cnt = _mg_prune(dict(cnt), counters)
            yield pd.DataFrame(
                {
                    "term": list(cnt.keys()) + [None],
                    "nt": [0] * len(cnt) + [total],
                }
            )

        summary = toks.mapInPandas(part, "term string, nt long").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            total = summary.where(F.col("term").isNull()).agg(
                F.sum("nt")
            ).first()[0]
            if not total:
                return df.sparkSession.createDataFrame(
                    [], "term string, n long, support double"
                )
            # candidates are <= counters rows per partition
            cand = probe_materialize(
                summary.where(F.col("term").isNotNull()).select("term").distinct()
            )
        finally:
            summary.unpersist()
        threshold = int(math.ceil(min_support * total))
        if fits_broadcast(cand):
            cand = F.broadcast(cand)
        exploded = sdf.select(F.explode(_stream()).alias("term"))
        return (
            exploded.join(cand, "term")
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") >= threshold)
            .select(
                "term",
                "n",
                (F.col("n").cast("double") / F.lit(float(total))).alias(
                    "support"
                ),
            )
        )

    return _freq


@register("text_ngram_counts")
def ngram_counts(
    input_col: str = "text",
    n: int = 2,
    k: int = 100,
    min_count: int = 1,
) -> TransformerFn:
    """Corpus-level word n-gram statistics: the top-``k`` n-grams by total
    occurrence count, with document frequency — the table behind
    contamination sweeps (which benchmark n-grams appear in the corpus,
    and in how many documents), boilerplate detection (high-df n-grams),
    and dataset reporting. Returns a corpus-level DataFrame
    ``(ngram, n_count, doc_freq, rank)`` with a deterministic total order
    (count desc, ngram asc). ``n=1`` degrades to ``text_vocab_top_k``
    plus document frequency.

    Scale design: per-document n-grams are a codegen projection (the
    ``shingles`` slice-and-join, zero Python); the only shuffle keys on
    the n-gram string with map-side partial aggregation — count and
    per-document distinct count ride the SAME aggregate (doc-distinct
    via a pre-``dropDuplicates`` on (doc-hash, ngram) would double the
    shuffle; instead df counts distinct docs with an exact
    count_distinct inside the one groupBy). Top-k is
    ``orderBy().limit()`` — TakeOrderedAndProject, not a global sort.
    """
    if n < 1:
        raise ValueError(f"text_ngram_counts: n must be >= 1, got {n}")
    if k < 1:
        raise ValueError(f"text_ngram_counts: k must be >= 1, got {k}")

    def _ngrams(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        # per-doc n-gram list (keep duplicates — total counts need them);
        # docs shorter than n words contribute their single joined shingle.
        # The row id MUST be assigned in a projection BELOW the explode:
        # a generator evaluates sibling expressions per OUTPUT row, so an
        # inline monotonically_increasing_id would stamp every exploded
        # n-gram with its own "document" and doc_freq would collapse into
        # n_count. (Catalyst won't collapse the two projections — the id
        # is non-deterministic.)
        # spread the shingle regime only (the frequent_terms rationale:
        # n-gram construction is per-row-heavy, a unigram split is not)
        base = df.select(F.col(input_col).alias("__txt"))
        if n > 1:
            base = ensure_parallelism(base)
        with_id = base.withColumn("__doc", F.monotonically_increasing_id())
        exploded = with_id.select(
            "__doc", F.explode(shingles(F.col("__txt"), n)).alias("ngram")
        ).filter(F.col("ngram") != "")
        counts = (
            exploded.groupBy("ngram")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_count"),
                F.count_distinct("__doc").cast("long").alias("doc_freq"),
            )
            .filter(F.col("n_count") >= min_count)
            .orderBy(F.desc("n_count"), F.asc("ngram"))
            .limit(k)
        )
        w = Window.orderBy(F.desc("n_count"), F.asc("ngram"))
        return counts.withColumn("rank", F.row_number().over(w))

    return _ngrams


@register("text_hash_embedding")
def hash_embedding(
    input_col: str = "text",
    id_col: str = "doc_id",
    output_col: str = "hash_embedding",
    dim: int = 64,
    normalize: bool = True,
) -> TransformerFn:
    """Feature-hashing document vectors (the hashing trick, Weinberger et
    al. 2009): each token hashes to one of ``dim`` buckets with a ±1 sign
    bit, bucket sums form the vector — a model-free ``array<double>``
    embedding that feeds the embedding family (``dedup_semantic_centroid``,
    ``dedup_embedding_cosine``, ``knn_*``) on raw text corpora. Token
    hashing is the corpus-wide md5-fold convention (bucket = fold mod
    dim, sign from the next bit), so an external oracle replays vectors
    exactly; cell values are exact integers (order-independent sums) and
    the optional L2 normalization divides by one sqrt — deterministic
    across engines. Token-less documents get the zero vector (normalize
    leaves zero vectors unchanged rather than dividing by zero).

    Scale design: explode → one map-side-combined aggregation keyed on
    (id, bucket) — shuffle volume is touched cells (≤ dim per doc), not
    corpus tokens; the dense vector assembles from a per-doc map lookup
    over ``sequence(0, dim-1)`` (codegen, no Python); results join back
    on the id so all input columns survive.
    """
    if dim < 1:
        raise ValueError(f"text_hash_embedding: dim must be >= 1, got {dim}")

    def _emb(df: DataFrame) -> DataFrame:
        toks = df.select(
            F.col(id_col).alias("__hid"),
            F.explode(tokens_lower(F.col(input_col))).alias("__w"),
        )
        hv = md5_fold("__w")
        hashed = toks.select("__hid", hv.alias("__hv"))
        cells = (
            hashed.select(
                "__hid",
                (F.col("__hv") % dim).alias("__b"),
                F.when((F.expr(f"__hv div {dim}") % 2) == 0, 1)
                .otherwise(-1)
                .alias("__s"),
            )
            .groupBy("__hid", "__b")
            .agg(F.sum("__s").cast("long").alias("__v"))
        )
        vecs = cells.groupBy("__hid").agg(
            F.map_from_entries(F.collect_list(F.struct("__b", "__v"))).alias(
                "__m"
            )
        )
        dense = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("__m"), i.cast("long")), F.lit(0)
            ).cast("double"),
        )
        vecs = vecs.select("__hid", dense.alias("__vec"))
        out = (
            df.join(vecs, df[id_col] == vecs["__hid"], "left")
            .drop("__hid")
            .withColumn(
                output_col,
                F.coalesce(
                    "__vec",
                    F.array_repeat(F.lit(0.0), dim),
                ),
            )
            .drop("__vec")
        )
        if normalize:
            norm = F.sqrt(
                F.aggregate(
                    F.col(output_col), F.lit(0.0), lambda s, v: s + v * v
                )
            )
            out = out.withColumn(
                output_col,
                F.when(
                    norm > 0,
                    F.transform(F.col(output_col), lambda v: v / norm),
                ).otherwise(F.col(output_col)),
            )
        return out

    return _emb


@register("text_chunk", streaming_ok=True)
def text_chunk(
    input_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 0,
    min_tokens: int = 1,
) -> TransformerFn:
    """Split documents into fixed-size token windows with optional overlap
    — the context-window chunking step of a pretraining/RAG pipeline. One
    output row per chunk: all input columns plus ``chunk_idx``,
    ``chunk_text``, ``chunk_n_tokens``.

    Chunk i covers tokens ``[i·stride, i·stride + chunk_tokens)`` with
    ``stride = chunk_tokens − overlap``; the last chunk is the remainder
    (chunks under ``min_tokens`` are dropped — tail fragments fully
    contained in the previous overlap add no signal). Entirely JVM-side:
    tokenize once, ``sequence`` + ``posexplode`` + ``slice`` — a pure
    codegen row-expansion, no shuffle, no Python. At 100 TB the output is
    a flat projection whose cost is linear in emitted tokens (each token
    appears in at most ``ceil(chunk/stride)`` chunks)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("text_chunk: need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap

    def _chunk(df: DataFrame) -> DataFrame:
        toks = tokens(F.col(input_col))
        n = F.size(toks)
        # number of stride starts covering all n tokens: ceil((n-overlap)/stride)
        n_chunks = F.greatest(
            F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"), F.lit(1)
        )
        with_chunks = df.withColumn("__toks", toks).withColumn(
            "__idx", F.explode(F.sequence(F.lit(0), n_chunks - 1))
        )
        piece = F.slice(
            F.col("__toks"), F.col("__idx") * stride + 1, chunk_tokens
        )
        return (
            with_chunks.select(
                *[c for c in df.columns],
                F.col("__idx").alias("chunk_idx"),
                F.concat_ws(" ", piece).alias("chunk_text"),
                F.size(piece).cast("int").alias("chunk_n_tokens"),
            )
            .filter(F.col("chunk_n_tokens") >= min_tokens)
        )

    return _chunk


@register("text_quality_prune", streaming_ok=True)
def quality_prune(
    input_col: str = "text",
    min_words: int = 5,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 14.0,
    max_symbol_ratio: float = 0.3,
    max_digit_ratio: float = 0.3,
    min_stopword_hits: int = 1,
    max_top_word_ratio: float = 0.5,
    lang: str = "en",
    mode: str = "flag",  # flag | drop
) -> TransformerFn:
    """Gopher/C4-style RULE filter: apply the standard pretraining quality
    gates as hard pass/fail rules (vs :func:`quality_score`, which emits a
    soft composite score). Adds one boolean per rule plus ``quality_pass``;
    ``mode="drop"`` keeps only passing rows.

    Rules (all tunable): word-count bounds, mean-word-length bounds,
    symbol(punct) ratio cap, digit ratio cap, minimum distinct-stopword
    hits, and a most-frequent-word fraction cap (degenerate-repetition
    gate — computed with ``aggregate`` over the token array in row space,
    NOT an explode/groupBy, so the whole operator stays a zero-shuffle
    projection that whole-stage-codegens and composes with pushdown at
    100 TB).
    """
    if mode not in ("flag", "drop"):
        raise ValueError(
            f"quality_prune: mode must be flag|drop, got {mode!r}"
        )

    def _prune(df: DataFrame) -> DataFrame:
        c = F.col(input_col)
        toks = tokens_lower(c)
        n_words = F.size(toks)
        n_chars = F.length(c)
        mean_wl = F.when(
            n_words > 0,
            F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double")
            / n_words,
        ).otherwise(F.lit(0.0))
        sym = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
        sym_ratio = F.when(n_chars > 0, sym.cast("double") / n_chars).otherwise(0.0)
        digits = n_chars - F.length(F.regexp_replace(c, r"[0-9]", ""))
        digit_ratio = F.when(n_chars > 0, digits.cast("double") / n_chars).otherwise(0.0)
        sw = F.array(*[F.lit(w) for w in STOPWORDS.get(lang, STOPWORDS["en"])])
        sw_hits = F.size(F.array_intersect(F.array_distinct(toks), sw))
        # mode frequency in row space: longest run of the SORTED token
        # array — O(n log n) per row (r15; the previous
        # distinct×scan formulation was O(d·n) interpreted-lambda steps
        # per row and dominated dp49's per-task profile). Max run length
        # of a sorted array == max multiplicity, exactly. Stays a
        # zero-shuffle projection.
        top_cnt = F.aggregate(
            F.array_sort(toks),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, t: F.struct(
                t.alias("prev"),
                F.when(acc["prev"].eqNullSafe(t), acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(acc["prev"].eqNullSafe(t), acc["run"] + 1).otherwise(
                        F.lit(1)
                    ),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )
        top_ratio = F.when(
            n_words > 0, top_cnt.cast("double") / n_words
        ).otherwise(F.lit(0.0))
        rules = {
            "pass_word_count": (n_words >= min_words) & (n_words <= max_words),
            "pass_mean_word_len": (mean_wl >= min_mean_word_len)
            & (mean_wl <= max_mean_word_len),
            "pass_symbol_ratio": sym_ratio <= max_symbol_ratio,
            "pass_digit_ratio": digit_ratio <= max_digit_ratio,
            "pass_stopwords": sw_hits >= min_stopword_hits,
            "pass_top_word": top_ratio <= max_top_word_ratio,
        }
        all_pass = None
        for cond in rules.values():
            all_pass = cond if all_pass is None else (all_pass & cond)
        out = df.withColumns({k: v for k, v in rules.items()}).withColumn(
            "quality_pass", all_pass
        )
        if mode == "drop":
            return out.filter(F.col("quality_pass")).drop(
                *rules.keys(), "quality_pass"
            )
        return out

    return _prune


@register("text_lm_score")
def lm_score(
    input_col: str = "text",
    id_col: str = "doc_id",
    top_v: int = 10_000,
    oov_logp: float = -0.3010,
    output_col: str = "avg_logprob",
) -> TransformerFn:
    """Corpus-derived unigram language-model scoring: each document gets the
    average per-token log10 unigram probability under the corpus's own
    empirical distribution — the classic cheap perplexity proxy for quality
    filtering (low avg logprob = rare/garbled tokens, OCR noise, wrong
    language).

    Numeric design for cross-engine determinism: the score decomposes as
    ``avg(log10(c_t)) − log10(N)`` over tokens t with in-vocab count c_t.
    Each ``log10(c_t)`` has an *integer* argument and is snapped to a
    4-dp grid as a SCALED BIGINT — ``floor(log10(c)·10⁴ + 0.5)`` — then
    summed exactly (order-independent integer arithmetic). The final score
    is one double expression over exact integers with NO engine ``round()``
    call anywhere: Spark's ``round`` re-rounds the double's shortest
    decimal representation (BigDecimal HALF_UP) while DuckDB rounds the
    true binary value, and ``Σlp/n`` lands on exact half-way points often
    enough (it is a small-denominator rational on a 1e-4 grid) that the
    two engines disagree — the floor-scaled form is boundary-free. OOV
    tokens (outside the ``top_v`` vocabulary) contribute the fixed floor
    ``oov_logp``.

    Scale design: vocab = one map-side-combined token count capped to
    ``top_v`` rows (TakeOrderedAndProject, no global sort) → **broadcast**;
    the per-doc pass is explode → broadcast-hash-join → one map-side-
    combined groupBy on the doc id. No corpus-side shuffle other than the
    doc-id agg; the vocab side is constant-size at any corpus scale. The
    total-mass scalar and the probe join share the vocab's exchange (the
    :mod:`~lakehouse_engine_spark.datapipes.materialize` sharing rule).
    """

    def _score(df: DataFrame) -> DataFrame:
        toks = (
            df.select(F.col(id_col).alias("__id"), tokens_lower(F.col(input_col)).alias("__t"))
            .select("__id", F.explode("__t").alias("__w"))
        )
        vocab = (
            toks.groupBy("__w")
            .agg(F.count(F.lit(1)).alias("__c"))
            .orderBy(F.desc("__c"), F.asc("__w"))
            .limit(top_v)
        )
        # N = total in-vocab token mass; a single scalar — computed once from
        # the (≤ top_v)-row vocab, not from the corpus
        total = vocab.agg(F.sum("__c").alias("__n"))
        oov_scaled = int(round(oov_logp * 10_000))
        scored = (
            toks.join(F.broadcast(vocab), "__w", "left")
            .withColumn(
                "__lp",
                F.when(
                    F.col("__c").isNotNull(),
                    log_grid("__c"),
                ).otherwise(F.lit(oov_scaled).cast("long")),
            )
            .groupBy("__id")
            .agg(
                F.count(F.lit(1)).alias("__nt"),
                F.sum("__lp").alias("__slp"),
            )
        )
        lg_n = log_grid("__n").cast("double")
        out = (
            df.join(scored, df[id_col] == scored["__id"], "left")
            .crossJoin(F.broadcast(total))
            .withColumn(
                output_col,
                (F.col("__slp").cast("double") / F.col("__nt") - lg_n) / 10_000.0,
            )
            .withColumn("n_scored_tokens", F.coalesce("__nt", F.lit(0)).cast("int"))
            .drop("__id", "__nt", "__slp", "__n")
        )
        return out

    return _score


@register("text_lm_score_bigram")
def lm_score_bigram(
    input_col: str = "text",
    id_col: str = "doc_id",
    top_v: int = 10_000,
    oov_logp: float = -3.0,
    output_col: str = "avg_logprob2",
) -> TransformerFn:
    """Corpus-derived BIGRAM conditional-LM scoring: the average
    ``log10 P(wᵢ | wᵢ₋₁) = log10 c(wᵢ₋₁wᵢ) − log10 c(wᵢ₋₁)`` over a
    document's bigrams — a sharper perplexity proxy than the unigram
    :func:`lm_score` (it punishes improbable word ORDER, not just rare
    words; shuffled or templated text scores low even when every word is
    common). Bigrams outside the ``top_v`` vocabulary take the ``oov_logp``
    floor (default −3: P ≈ 10⁻³). Documents under 2 tokens score NULL with
    ``n_scored_bigrams = 0``.

    Numeric design: same scaled-BIGINT log grid as ``lm_score`` —
    ``floor(log10(c)·10⁴+0.5)`` on the integer bigram and prefix counts,
    exact integer sums, one final double division, no engine ``round()``.

    Scale design: bigram vocab = one map-side-combined count capped to
    ``top_v`` (TakeOrdered) → **broadcast**; prefix unigram counts are
    computed corpus-wide but semi-joined down to the (≤ top_v) distinct
    vocab prefixes before broadcasting. The per-doc pass is one bigram
    explode → two broadcast joins → one doc-keyed map-side-combined agg.
    The prefix prune and the probe join share the vocab's exchange (the
    :mod:`~lakehouse_engine_spark.datapipes.materialize` sharing rule).
    """

    def _score(df: DataFrame) -> DataFrame:
        toks = tokens_lower(F.col(input_col))
        base = df.select(F.col(id_col).alias("__id"), toks.alias("__t")).filter(
            F.size("__t") >= 2
        )
        n = F.size("__t")
        pairs = base.select(
            "__id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.struct(
                        F.element_at("__t", i.cast("int")).alias("pre"),
                        F.concat_ws(
                            " ",
                            F.element_at("__t", i.cast("int")),
                            F.element_at("__t", (i + 1).cast("int")),
                        ).alias("bg"),
                    ),
                )
            ).alias("__x"),
        ).select("__id", F.col("__x.pre").alias("__pre"), F.col("__x.bg").alias("__bg"))
        vocab = (
            pairs.groupBy("__bg")
            .agg(F.count(F.lit(1)).alias("__cb"))
            .orderBy(F.desc("__cb"), F.asc("__bg"))
            .limit(top_v)
        )
        prefixes = vocab.select(
            F.split("__bg", " ").getItem(0).alias("__w")
        ).distinct()
        uni = (
            df.select(F.explode(toks).alias("__w"))
            .join(F.broadcast(prefixes), "__w", "left_semi")
            .groupBy("__w")
            .agg(F.count(F.lit(1)).alias("__cu"))
        )
        oov_scaled = int(round(oov_logp * 10_000))
        lp = F.when(
            F.col("__cb").isNotNull() & F.col("__cu").isNotNull(),
            log_grid("__cb") - log_grid("__cu"),
        ).otherwise(F.lit(oov_scaled).cast("long"))
        scored = (
            pairs.join(F.broadcast(vocab), "__bg", "left")
            .join(F.broadcast(uni), pairs["__pre"] == F.col("__w"), "left")
            .withColumn("__lp", lp)
            .groupBy("__id")
            .agg(F.count(F.lit(1)).alias("__nb"), F.sum("__lp").alias("__slp"))
        )
        return (
            df.join(scored, df[id_col] == scored["__id"], "left")
            .withColumn(
                output_col,
                F.col("__slp").cast("double") / F.col("__nb") / 10_000.0,
            )
            .withColumn("n_scored_bigrams", F.coalesce("__nb", F.lit(0)).cast("int"))
            .drop("__id", "__nb", "__slp")
        )

    return _score


@register("text_word_pmi")
def word_pmi(
    input_col: str = "text",
    k: int = 100,
    min_count: int = 5,
) -> TransformerFn:
    """Collocation mining: the top-``k`` adjacent word pairs by pointwise
    mutual information — ``PMI(a,b) = log10( p(ab) / (p(a)·p(b)) )`` with
    ``p(ab) = c_ab/N_bi`` over bigrams and ``p(·) = c/N_uni`` over
    unigrams — restricted to pairs seen at least ``min_count`` times.
    The standard phrase-discovery / tokenizer-evaluation signal (high
    PMI = words that belong together: named entities, technical terms).

    Numeric design (the ``lm_score`` convention): every log has an
    INTEGER argument and is snapped to a 1e-4 grid as a scaled bigint —
    ``pmi_s = L(c_ab) + 2·L(N_uni) − L(N_bi) − L(c_a) − L(c_b)`` with
    ``L(x) = floor(log10(x)·10⁴ + 0.5)`` — then combined with exact
    integer arithmetic, so the SQL oracle replays every value without
    engine-``round()`` half-way hazards. ``pmi = pmi_s / 10⁴``.

    Scale design: the bigram count is one map-side-combined aggregate
    cut to ``>= min_count`` survivors (probed with
    :func:`~lakehouse_engine_spark.datapipes.materialize.probe_materialize`
    — tiny);
    unigram counts are then computed ONLY for words appearing in a
    surviving pair, by pruning the corpus token stream with a size-gated
    broadcast semi-join before the count — the full unigram vocabulary
    (unbounded at web scale) never reaches a shuffle. Same
    recount-the-candidates trade recorded for ``text_frequent_terms``
    and ``dsir_score``. Totals (N_uni, N_bi) are two pure aggregates
    over token-array sizes — no explode, no shuffle. The final top-k is
    ``orderBy().limit()`` — TakeOrderedAndProject, no global sort.
    """
    if k < 1:
        raise ValueError("text_word_pmi: k must be >= 1")
    if min_count < 1:
        raise ValueError("text_word_pmi: min_count must be >= 1")

    def _pmi(df: DataFrame) -> DataFrame:
        toks = tokens_lower(F.col(input_col))
        base = df.select(toks.alias("__t"))
        totals = base.agg(
            F.sum(F.size("__t")).alias("__nu"),
            F.sum(F.greatest(F.size("__t") - 1, F.lit(0))).alias("__nb"),
        )
        n = F.size("__t")
        pairs = base.filter(F.size("__t") >= 2).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.struct(
                        F.element_at("__t", i.cast("int")).alias("w1"),
                        F.element_at("__t", (i + 1).cast("int")).alias("w2"),
                    ),
                )
            ).alias("__p")
        ).select(F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
        bi = probe_materialize(
            pairs.groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("n_ab"))
            .where(F.col("n_ab") >= min_count)
        )
        words = probe_materialize(
            bi.select(F.col("w1").alias("__w"))
            .union(bi.select(F.col("w2").alias("__w")))
            .distinct()
        )
        do_broadcast = fits_broadcast(words)
        words_side = F.broadcast(words) if do_broadcast else words
        uni = (
            base.select(F.explode("__t").alias("__w"))
            .join(words_side, "__w")
            .groupBy("__w")
            .agg(F.count(F.lit(1)).alias("__cu"))
        )
        u1 = uni.select(F.col("__w").alias("w1"), F.col("__cu").alias("__c1"))
        u2 = uni.select(F.col("__w").alias("w2"), F.col("__cu").alias("__c2"))
        if do_broadcast:  # the same gate covers the count attach joins
            u1, u2 = F.broadcast(u1), F.broadcast(u2)
        joined = (
            bi.join(u1, "w1").join(u2, "w2").crossJoin(F.broadcast(totals))
        )
        scored = joined.select(
            "w1",
            "w2",
            "n_ab",
            (
                log_grid("n_ab")
                + F.lit(2) * log_grid("__nu")
                - log_grid("__nb")
                - log_grid("__c1")
                - log_grid("__c2")
            ).alias("pmi_s"),
        ).withColumn("pmi", F.col("pmi_s").cast("double") / 10_000.0)
        return scored.orderBy(
            F.desc("pmi_s"), F.asc("w1"), F.asc("w2")
        ).limit(k)

    return _pmi


@register("text_tfidf_top_terms")
def tfidf_top_terms(
    input_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_df: int = 1,
) -> TransformerFn:
    """Per-document top-``k`` TF-IDF terms — the keyword-extraction /
    salient-term step of corpus analytics. Returns one row per (doc, term)
    with ``term``, ``tf``, ``df``, ``tfidf`` and ``term_rank`` (1 = most
    salient).

    Numeric design: ``idf = floor(log10((n_docs+1)/(df+1))·10⁴ + 0.5)`` as
    a SCALED BIGINT (boundary-free half-up — see ``lm_score`` for why
    engine ``round()`` is avoided), then ``tfidf = tf · idf`` in exact
    integer arithmetic, ranked by (scaled tfidf DESC, term ASC): integer
    ordering means ranks can never flip on a last-ulp difference between
    engines; the emitted double is one exact division by 10⁴.

    Scale design: tf = one map-side-combined groupBy (doc, term) — shuffled
    volume is distinct terms per doc, not token count; df = groupBy over the
    *already-distinct* (doc, term) pairs keyed by term. The final top-k is
    a per-doc window over ≤ distinct-terms rows, one doc-keyed shuffle.
    ``min_df`` prunes hapax noise before the join at large scale.

    Broadcast gate: the df side is "vocabulary-sized", but with the
    default ``min_df=1`` on web-scale text that is every distinct term —
    potentially 10⁸+ rows, which a forced broadcast would OOM. The op
    counts ``dfreq`` (one aggregate over the probed pairs — cheap; see
    :mod:`~lakehouse_engine_spark.datapipes.materialize` for the sharing
    rule) and broadcasts only while :func:`driver_tier.fits_broadcast`
    passes; above it the tf⋈df join runs as a regular shuffle join on
    ``term``.
    """

    def _tfidf(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        n_docs = df.select(F.countDistinct(F.col(id_col)).alias("__nd"))
        # the broadcast gate counts dfreq at build time, so the (doc, term,
        # tf) aggregate both consumers read is probed once
        pairs = probe_materialize(
            df.select(F.col(id_col).alias("__id"), tokens_lower(F.col(input_col)).alias("__t"))
            .select("__id", F.explode("__t").alias("term"))
            .groupBy("__id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        dfreq = (
            pairs.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") >= min_df)
        )
        if fits_broadcast(dfreq):
            dfreq = F.broadcast(dfreq)
        w = Window.partitionBy("__id").orderBy(
            F.desc("__tfidf_s"), F.asc("term")
        )
        return (
            pairs.join(dfreq, "term")
            .crossJoin(F.broadcast(n_docs))
            .withColumn(
                "__idf_s",
                log_grid((F.col("__nd") + 1).cast("double") / (F.col("df") + 1)),
            )
            .withColumn("__tfidf_s", F.col("tf") * F.col("__idf_s"))
            .withColumn("term_rank", F.row_number().over(w))
            .filter(F.col("term_rank") <= k)
            .select(
                F.col("__id").alias(id_col),
                "term",
                F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"),
                (F.col("__tfidf_s") / 10_000.0).alias("tfidf"),
                F.col("term_rank").cast("int").alias("term_rank"),
            )
        )

    return _tfidf


@register("text_line_dedup")
def line_dedup(
    input_col: str = "text",
    id_col: str = "doc_id",
    output_col: str = "text_deduped",
    min_line_chars: int = 1,
    removed_col: str = "n_lines_removed",
) -> TransformerFn:
    """C4-style corpus-wide LINE dedup: a (trimmed) line survives only at
    its first occurrence in the corpus — ordered by (doc id, position) —
    and is removed everywhere else. This is the classic boilerplate killer
    (navigation chrome, cookie banners, license footers repeat verbatim
    across pages while real prose doesn't). Lines shorter than
    ``min_line_chars`` after trimming are always kept (blank separators
    would otherwise all collapse into one document). Emits the rebuilt
    text plus a removed-line count per document.

    Scale design: explode lines → ONE window over the line digest
    (``row_number`` per md5(trim(line)), the same cost class as exact
    dedup) → reassemble per doc from a sorted collect_list (bounded by
    lines-per-doc). Shuffled volume is (id, idx, digest) triples plus the
    surviving line text — no all-pairs anything.
    """

    def _dedup(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        lines = df.select(
            F.col(id_col).alias("__id"),
            F.posexplode(F.split(F.col(input_col), "\n")).alias("__idx", "__line"),
        ).withColumn("__key", F.md5(ws_line_trim(F.col("__line"))))
        w = Window.partitionBy("__key").orderBy("__id", "__idx")
        kept = lines.withColumn(
            "__keep",
            (F.length(ws_line_trim(F.col("__line"))) < min_line_chars)
            | (F.row_number().over(w) == 1),
        )
        rebuilt = (
            kept.groupBy("__id")
            .agg(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("__keep"),
                                    F.struct("__idx", "__line"),
                                )
                            )
                        ),
                        lambda x: x["__line"],
                    ),
                ).alias(output_col),
                F.sum(F.when(~F.col("__keep"), 1).otherwise(0))
                .cast("int")
                .alias(removed_col),
            )
        )
        return df.join(rebuilt, df[id_col] == rebuilt["__id"], "left").drop("__id")

    return _dedup


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles; documents shorter than n words yield one shingle."""
    toks = tokens_lower(col)
    k = F.size(toks)
    return F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(1), k - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


@register("text_cdc_chunk", streaming_ok=True)
def cdc_chunk(
    input_col: str = "text",
    window: int = 8,
    divisor: int = 16,
    min_tokens: int = 1,
) -> TransformerFn:
    """Content-defined chunking: split each document at positions where the
    rolling hash of the trailing ``window`` tokens satisfies
    ``h % divisor == 0`` — so chunk boundaries follow CONTENT, not offsets,
    and an insertion near the top of a document shifts only the chunk it
    lands in (fixed-size ``text_chunk`` windows all shift, defeating
    chunk-level dedup). Average chunk length ≈ ``divisor`` tokens; the
    rolling hash is the corpus-wide md5-fold convention (dedup.py), so
    identical passages chunk identically across documents — feed the
    chunks to ``dedup_exact``/``dedup_minhash_lsh`` for edit-robust
    near-dedup. One output row per chunk: all input columns plus
    ``chunk_idx``, ``chunk_text``, ``chunk_n_tokens``.

    Scale design: entirely JVM-side array expressions in row space —
    tokenize once, boundary predicate per position via
    ``transform``+``slice`` (each position hashes one ``window``-token
    join: O(n·window) bytes hashed per doc), chunk slices via one
    ``posexplode`` — no shuffle, no Python, no O(n²) per-token rescan.
    A document never leaves its partition; output size is the input token
    count, independent of ``divisor``.
    """
    if window < 1:
        raise ValueError(f"text_cdc_chunk: window must be >= 1, got {window}")
    if divisor < 2:
        raise ValueError(f"text_cdc_chunk: divisor must be >= 2, got {divisor}")

    def _chunk(df: DataFrame) -> DataFrame:
        d = (
            df.withColumn("__toks", tokens(F.col(input_col)))
            .withColumn("__n", F.size("__toks"))
        )
        # 1-based chunk start positions: 1, plus i+1 for every boundary
        # AFTER token i (never after the last token — no empty tail chunk)
        starts = f"""
            concat(array(1), filter(transform(
              if(__n <= 0, array(), sequence(1, __n)), i ->
                CASE WHEN i >= {window} AND i < __n AND pmod(
                  cast(conv(substring(md5(
                    array_join(slice(__toks, i - {window} + 1, {window}), ' ')
                  ), 1, 15), 16, 10) AS BIGINT), {divisor}) = 0
                THEN i + 1 END),
              x -> x IS NOT NULL))
        """
        # chunk k (0-based) spans [starts[k+1], next start - 1]
        pieces = (
            "transform(__starts, (s, k) -> "
            "slice(__toks, s, coalesce(try_element_at(__starts, k + 2), __n + 1) - s))"
        )
        return (
            d.withColumn("__starts", F.expr(starts))
            .select(
                *[c for c in df.columns],
                F.posexplode(F.expr(pieces)).alias("chunk_idx", "__piece"),
            )
            .select(
                *[c for c in df.columns],
                "chunk_idx",
                F.concat_ws(" ", "__piece").alias("chunk_text"),
                F.size("__piece").cast("int").alias("chunk_n_tokens"),
            )
            .filter(F.col("chunk_n_tokens") >= min_tokens)
        )

    return _chunk


@register("lexical_diversity")
def lexical_diversity(
    input_col: str = "text",
    group_cols: Optional[List[str]] = None,
) -> TransformerFn:
    """Per-group lexical diversity from EXACT integer word counts: one row
    per group with ``n_tokens``, ``n_distinct``, ``ttr`` (type-token
    ratio), and ``inv_simpson`` (N²/Σc² — the effective vocabulary size;
    2 for a coin-flip vocabulary, N for all-distinct) — the dataset-card
    diversity metrics for corpus mixing decisions. Unlike entropy, the
    Simpson form needs NO per-term logs: Σc² accumulates exactly (map-
    side-combined), so results are order-independent and replay exactly
    in any engine while Σc² stays below 2^53 (the same sub-2^53 contract
    as ``trend_fit``).

    Two map-side-combined aggregations — (group, word) counts, then group
    rollup — both shuffling on the group key family. NULL/empty texts
    contribute nothing; a group with no tokens at all produces no row.
    """
    keys = list(group_cols or [])

    def _div(df: DataFrame) -> DataFrame:
        words = df.select(
            *keys, F.explode(tokens_lower(F.col(input_col))).alias("__w")
        )
        counts = words.groupBy(*keys, "__w").agg(
            F.count(F.lit(1)).alias("__c")
        )
        agg = counts.groupBy(*keys).agg(
            F.sum("__c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.col("__c") * F.col("__c")).cast("long").alias("__c2"),
        )
        n = F.col("n_tokens").cast("double")
        return agg.select(
            *keys,
            "n_tokens",
            "n_distinct",
            (F.col("n_distinct") / n).alias("ttr"),
            (n * n / F.col("__c2").cast("double")).alias("inv_simpson"),
        )

    return _div


@register("text_clean", streaming_ok=True)
def text_clean(
    input_col: str = "text",
    output_col: Optional[str] = None,
    strip_control: bool = True,
    collapse_whitespace: bool = True,
    strip_zero_width: bool = True,
    max_consecutive_newlines: int = 2,
) -> TransformerFn:
    """Corpus text normalization: strip C0/C1 control characters (except
    tab/newline), remove zero-width/joiner codepoints (the invisible
    characters that defeat exact dedup and inflate tokenizers), cap
    consecutive newlines, and collapse runs of spaces/tabs - the
    pre-dedup cleanup pass of a web-scraped corpus. Purely
    ``regexp_replace`` chains: whole-stage codegen, no Python, no
    shuffle; each toggle drops its replace from the plan entirely.
    Writes ``output_col`` (default: in place).
    """
    out = output_col or input_col

    def _clean(df: DataFrame) -> DataFrame:
        c = F.col(input_col)
        if strip_zero_width:
            c = F.regexp_replace(
                c, "[\u200b\u200c\u200d\u2060\ufeff]", ""
            )
        if strip_control:
            # keep tab and newline; fold CRLF / CR to newline first
            c = F.regexp_replace(c, "\r\n?", "\n")
            c = F.regexp_replace(
                c, "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]", ""
            )
        if max_consecutive_newlines is not None:
            c = F.regexp_replace(
                c,
                "\n{" + str(int(max_consecutive_newlines) + 1) + ",}",
                "\n" * int(max_consecutive_newlines),
            )
        if collapse_whitespace:
            c = F.regexp_replace(c, "[ \t]{2,}", " ")
        return df.withColumn(out, c)

    return _clean


@register("url_normalize", streaming_ok=True)
def url_normalize(
    input_col: str = "url",
    output_col: Optional[str] = None,
    tracking_prefixes: Optional[List[str]] = None,
) -> TransformerFn:
    """Canonicalize URLs for dedup/domain analysis: strip the fragment,
    lowercase scheme+host, drop default ports (:80 http / :443 https),
    remove tracking parameters (``utm_*``/``fbclid``/``gclid`` by
    default), and sort the remaining query parameters — the
    web-corpus-side twin of content dedup (the same page arrives under
    dozens of parameter orderings and tracking decorations). Entirely
    regexp/array codegen: no Python, no shuffle, replayable by the SQL
    oracle byte-for-byte.
    """
    out = output_col or input_col
    # None -> defaults; an explicit [] means "strip nothing"
    prefixes = (
        tracking_prefixes
        if tracking_prefixes is not None
        else ["utm_", "fbclid", "gclid"]
    )

    def _norm(df: DataFrame) -> DataFrame:
        u = F.regexp_replace(F.col(input_col), "#.*$", "")  # fragment
        scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
        hostport = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?]*)", 1))
        host = (
            F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
            .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
            .otherwise(hostport)
        )
        tail = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?]*", "")
        path = F.regexp_replace(tail, r"\?.*$", "")
        qs = F.when(
            tail.contains("?"), F.regexp_replace(tail, r"^[^?]*\?", "")
        ).otherwise(F.lit(""))
        drop = " OR ".join(
            "startswith(p, '" + pre.replace("'", "\\'") + "')"
            for pre in prefixes
        ) or "false"
        cleaned = df.withColumn("__qs", qs).withColumn(
            "__params",
            F.expr(
                "array_join(array_sort(filter(split(__qs, '&'), "
                f"p -> p <> '' AND NOT ({drop}))), '&')"
            ),
        )
        norm = F.concat(
            scheme, F.lit("://"), host, path,
            F.when(F.col("__params") != "", F.concat(F.lit("?"), F.col("__params"))).otherwise(F.lit("")),
        )
        # only absolute scheme://host URLs are canonicalized; schemeless /
        # protocol-relative inputs pass through unchanged rather than being
        # corrupted with a bare '://' prefix
        norm = F.when(scheme == "", F.col(input_col)).otherwise(norm)
        return cleaned.withColumn(out, norm).drop("__qs", "__params")

    return _norm


@register("text_bm25_topk")
def bm25_topk(
    queries_df: DataFrame,
    query_col: str = "query",
    query_id_col: str = "query_id",
    input_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    broadcast_queries: bool | None = None,
) -> TransformerFn:
    """Per-query top-``k`` documents by BM25 (k1=1.2, b=0.75) — the
    retrieval/relevance primitive for eval-set mining, nearest-document
    lookup, and keyword-driven corpus curation. Returns one row per
    (query, doc) with ``score`` and ``doc_rank`` (1 = best).

    Numeric design for cross-engine determinism (the ``lm_score`` family's
    scaled-BIGINT convention): with the classic constants as exact
    rationals, every per-term contribution is computed in INTEGER
    arithmetic —

    * idf: ``(D−df+0.5)/(df+0.5)+1`` simplifies to ``(2D+2)/(2df+1)``,
      so ``idf_s = S(2D+2) − S(2df+1)`` with ``S(x)=floor(log10(x)·10⁴
      +0.5)`` over INTEGER arguments (boundary-free half-up grid, no
      engine ``round()``);
    * avgdl is snapped half-up to an integer WITHOUT doubles:
      ``avgdl_r = (2T+D) div (2D)``;
    * the tf saturation term ``tf·(k1+1)/(tf+k1(1−b+b·dl/avgdl_r))``
      becomes the integer ratio ``44·tf·avgdl_r /
      (20·tf·avgdl_r + 6·avgdl_r + 18·dl)``;
    * per-term contribution = ``(idf_s · 44·tf·avgdl_r) div (denom)`` —
      exact integer, summed order-independently per (query, doc); the
      emitted double is one division by 10⁴. Magnitudes stay < 2⁵³ for
      any corpus (the bound is ``idf_s·44·tf·avgdl_r``, independent of
      corpus size — tf ≤ dl and avgdl_r are per-document scale).

    Scale design: the corpus is never fully shuffled. Doc length is a
    projection computed in the same pass as tokenize; corpus tokens are
    pruned by a **semi-join on the query vocabulary** before the only
    corpus-keyed aggregation (doc, term) — shuffled volume is matching
    tokens only, which for realistic query sets is a tiny fraction of
    the corpus. df and corpus totals are aggregates over the pruned
    pairs; the final top-k is a per-query window over candidate docs.

    Broadcast gate: the three query-derived tables (qterms, the query
    vocabulary, and the per-term document frequencies — all bounded by
    the QUERY SET, not the corpus) are broadcast only while the distinct
    (query, term) count passes :func:`driver_tier.fits_broadcast`; for
    eval-set mining with millions of queries the joins degrade to
    regular shuffle joins instead of blowing the broadcast. Default
    (``broadcast_queries=None``) probes the qterms table with one count
    (no corpus scan); pass ``True``/``False`` to pin the
    strategy and skip the probe. The 1-row corpus-stats table is always
    broadcast.
    """
    if k < 1:
        raise ValueError(f"text_bm25_topk: k must be >= 1, got {k}")

    def _bm25(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        toks = df.select(
            F.col(id_col).alias("__doc"),
            tokens_lower(F.col(input_col)).alias("__t"),
        )
        qterms = queries_df.select(
            F.col(query_id_col).alias("__qid"),
            F.explode(tokens_lower(F.col(query_col))).alias("term"),
        ).distinct()
        # qterms is reused three ways (vocab prune, final scoring join,
        # size probe); the probe recounts the small query side, and the
        # returned plan shares its distinct() Exchange (the materialize
        # sharing rule)
        do_broadcast = broadcast_queries
        if do_broadcast is None:
            do_broadcast = fits_broadcast(qterms)
        bq = F.broadcast if do_broadcast else (lambda d: d)
        qvocab = qterms.select("term").distinct()
        # corpus stats BEFORE vocab pruning: BM25's D, T and dl cover the
        # whole corpus, not just query-matching tokens
        stats = toks.select(F.size("__t").alias("__dl")).agg(
            F.sum("__dl").cast("long").alias("__T"),
            F.count(F.lit(1)).cast("long").alias("__D"),
        )
        pairs = (
            toks.select(
                "__doc",
                F.size("__t").alias("__dl"),
                F.explode("__t").alias("term"),
            )
            .join(bq(qvocab), "term")
            .groupBy("__doc", "__dl", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("__tf"))
        )
        dfreq = pairs.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("__df")
        )

        avgdl_r = F.expr("(2 * __T + __D) div (2 * __D)")
        idf_s = log_grid(F.lit(2) * F.col("__D") + 2) - log_grid(
            F.lit(2) * F.col("__df") + 1
        )
        num = idf_s * 44 * F.col("__tf") * F.col("__avgdl")
        den = (
            F.lit(20) * F.col("__tf") * F.col("__avgdl")
            + 6 * F.col("__avgdl")
            + 18 * F.col("__dl")
        )
        contrib = (
            pairs.join(bq(dfreq), "term")
            .crossJoin(F.broadcast(stats))
            .withColumn("__avgdl", avgdl_r)
            .select(
                "__doc",
                "term",
                num.cast("long").alias("__num"),
                den.cast("long").alias("__den"),
            )
            .withColumn("__c", F.expr("__num div __den"))
        )
        scored = (
            contrib.join(bq(qterms), "term")
            .groupBy("__qid", "__doc")
            .agg(F.sum("__c").alias("__s"))
        )
        w = Window.partitionBy("__qid").orderBy(
            F.desc("__s"), F.asc("__doc")
        )
        return (
            scored.withColumn("doc_rank", F.row_number().over(w))
            .filter(F.col("doc_rank") <= k)
            .select(
                F.col("__qid").alias(query_id_col),
                F.col("__doc").alias(id_col),
                (F.col("__s") / 10_000.0).alias("score"),
                F.col("doc_rank").cast("int").alias("doc_rank"),
            )
        )

    return _bm25


register_with("text_bm25_topk_with", bm25_topk, "queries_with", "queries_df")


@register("text_sentence_split", streaming_ok=True)
def sentence_split(
    input_col: str = "text",
    min_chars: int = 1,
) -> TransformerFn:
    """Sentence segmentation: one output row per sentence with
    ``sent_idx``, ``sentence`` and ``sent_n_chars`` — the unit-of-text
    step before sentence-level dedup, quality scoring, or chunk packing.

    Boundary rule: a sentence is a maximal run ending in ``.!?``
    (with trailing quotes/brackets absorbed) or the tail of the document.
    Deliberately regex-only and RE2-portable — NO lookbehind/lookahead —
    so Spark (Java regex) and any SQL oracle (RE2) extract identical
    spans: ``[^.!?]*[.!?]+[)"']*|[^.!?]+$`` over the whitespace-collapsed
    text, trimmed. Zero shuffle: collapse + extract + posexplode is pure
    row-space codegen.
    """

    def _split(df: DataFrame) -> DataFrame:
        collapsed = F.regexp_replace(F.trim(F.col(input_col)), r"\s+", " ")
        pat = "[^.!?]*[.!?]+[)\"']*|[^.!?]+$"
        sents = F.filter(
            F.transform(
                F.regexp_extract_all(collapsed, F.lit(pat), 0),
                lambda s: F.trim(s),
            ),
            lambda s: F.length(s) >= min_chars,
        )
        return (
            df.withColumn("__sents", sents)
            .select(
                *df.columns,
                F.posexplode("__sents").alias("sent_idx", "sentence"),
            )
            .withColumn("sent_n_chars", F.length("sentence").cast("int"))
        )

    return _split


@register("text_html_strip", streaming_ok=True)
def html_strip(
    input_col: str = "text",
    output_col: str = "text_stripped",
) -> TransformerFn:
    """HTML boilerplate removal for web corpora: drop ``<script>`` /
    ``<style>`` blocks wholesale, strip remaining tags and HTML comments,
    unescape the core entities (&amp; &lt; &gt; &quot; &#39; &nbsp;),
    and collapse whitespace. Regex-only and RE2-portable (no
    backreferences/lookaround) so an SQL oracle replays it exactly; a
    real DOM parser plugs in at the same column boundary when fidelity
    beyond tag-stripping is needed. Pure projection — zero shuffle.
    """

    def _strip(df: DataFrame) -> DataFrame:
        c = F.col(input_col)
        # order matters: kill script/style bodies BEFORE generic tags
        c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
        c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
        c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
        c = F.regexp_replace(c, r"(?s)<[^>]+>", " ")
        for ent, rep in (
            ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
            ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&"),
        ):
            c = F.regexp_replace(c, ent, rep)
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
        return df.withColumn(output_col, c)

    return _strip


@register("corpus_overlap_stats")
def corpus_overlap_stats(
    other_df: DataFrame,
    input_col: str = "text",
    other_text_col: str = "text",
    ngram: int = 8,
) -> TransformerFn:
    """Corpus-level n-gram overlap audit: ONE row with the distinct-gram
    counts of both corpora, the shared count, Jaccard, and containment in
    each direction — the quantitative pre-check before decontamination or
    a merge ("how much of corpus B is already inside A?"). Containment of
    the *other* corpus (``containment_other``) is the number eval-set
    leakage audits report.

    Scale: both sides reduce to DISTINCT md5 gram hashes (map-side
    combined), the intersection is one hash-keyed join of digest tables,
    and the three counts land in a single final aggregate — no text moves
    after the first projection, no broadcast of anything unbounded.
    """

    def _stats(df: DataFrame) -> DataFrame:
        # 8-gram shingle construction is the per-row-heavy pass — spread
        # a starved scan first (no-op at production split counts)
        a = (
            ensure_parallelism(df)
            .select(F.explode(shingles(F.col(input_col), ngram)).alias("__g"))
            .select(F.md5("__g").alias("__gh"))
            .distinct()
        )
        b = (
            ensure_parallelism(other_df)
            .select(
                F.explode(shingles(F.col(other_text_col), ngram)).alias("__g")
            )
            .select(F.md5("__g").alias("__gh"))
            .distinct()
        )
        shared = a.join(b, "__gh", "left_semi")
        na = a.agg(F.count(F.lit(1)).alias("n_grams_self"))
        nb = b.agg(F.count(F.lit(1)).alias("n_grams_other"))
        ns = shared.agg(F.count(F.lit(1)).alias("n_shared"))
        return (
            na.crossJoin(F.broadcast(nb))
            .crossJoin(F.broadcast(ns))
            .select(
                "n_grams_self",
                "n_grams_other",
                "n_shared",
                # an EMPTY corpus side makes every ratio undefined — NULL,
                # never an ANSI DIVIDE_BY_ZERO mid-audit (r14 review
                # finding, reproduced; count()-only smoke tests prune the
                # failing projections, so the guard must live here)
                F.when(
                    (F.col("n_grams_self") + F.col("n_grams_other")
                     - F.col("n_shared")) > 0,
                    F.round(
                        F.col("n_shared")
                        / (
                            F.col("n_grams_self")
                            + F.col("n_grams_other")
                            - F.col("n_shared")
                        ),
                        6,
                    ),
                ).alias("jaccard"),
                F.when(
                    F.col("n_grams_self") > 0,
                    F.round(F.col("n_shared") / F.col("n_grams_self"), 6),
                ).alias("containment_self"),
                F.when(
                    F.col("n_grams_other") > 0,
                    F.round(F.col("n_shared") / F.col("n_grams_other"), 6),
                ).alias("containment_other"),
            )
        )

    return _stats


register_with(
    "corpus_overlap_stats_with", corpus_overlap_stats, "other_with", "other_df"
)


@register("text_unicode_normalize", streaming_ok=True)
def unicode_normalize(
    input_col: str = "text",
    output_col: Optional[str] = None,
    form: str = "NFC",
    flag_changed: bool = False,
) -> TransformerFn:
    """Unicode normalization (UAX #15): canonicalize composed/decomposed
    codepoint sequences (``NFC``/``NFD``) or additionally fold
    compatibility characters — ligatures, full-width forms, superscripts —
    (``NFKC``/``NFKD``). Multilingual corpora mix producers that emit
    é as one codepoint and as e+◌́; every downstream digest, shingle and
    dedup treats those as DIFFERENT documents until this runs, so it
    belongs at the head of any multilingual ingestion chain.

    This is a documented PYTHON-path operator: the JVM has no built-in
    normalizer expression, so the work runs in an Arrow-batched
    ``pandas_udf`` over ``unicodedata.normalize`` — a pure projection
    (no shuffle, state, or driver data), vectorized per batch, scaling
    linearly with executors like every other map. Cost is the Arrow
    round-trip; runs at millions of rows/min/core and should be applied
    ONCE at ingestion, not per-query.

    ``flag_changed`` adds a boolean marking rows the normalization
    actually rewrote (cheap corpus-health signal for profiling).
    """
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"text_unicode_normalize: unknown form {form!r}")
    out_col = output_col or input_col

    def _norm(df: DataFrame) -> DataFrame:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def _nfx(s: pd.Series) -> pd.Series:
            import unicodedata

            return s.map(
                lambda x: unicodedata.normalize(form, x) if x is not None else None
            )

        # one plan per branch — the in-place flag_changed arm needs the
        # ORIGINAL on a temp column; building the plain plan first and
        # discarding it was dead code (r14 review finding)
        if flag_changed and out_col == input_col:
            return (
                df.withColumn("__orig", F.col(input_col))
                .withColumn(out_col, _nfx(F.col(input_col)))
                .withColumn(
                    "unicode_changed",
                    ~F.col(out_col).eqNullSafe(F.col("__orig")),
                )
                .drop("__orig")
            )
        out = df.withColumn(out_col, _nfx(F.col(input_col)))
        if flag_changed:
            out = out.withColumn(
                "unicode_changed",
                ~F.col(out_col).eqNullSafe(F.col(input_col)),
            )
        return out

    return _norm


@register("text_gopher_rules", streaming_ok=True)
def gopher_rules(
    input_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    max_symbol_word_permille: int = 100,
    max_bullet_line_permille: int = 900,
    max_ellipsis_line_permille: int = 300,
    min_alpha_word_permille: int = 800,
    min_stopword_hits: int = 2,
    stopwords: tuple = GOPHER_STOPWORDS,
    mode: str = "annotate",
) -> TransformerFn:
    """Gopher document-quality rules (Rae et al. 2021, arXiv:2112.11446
    §A1.1) — the standard pretraining web-filter battery, as one pure
    projection emitting a boolean per rule plus the combined
    ``gopher_keep``:

    * ``rule_word_count``: word count in [min_words, max_words];
    * ``rule_mean_word_len``: mean word length in [3, 10];
    * ``rule_symbol_ratio``: (# of ``#`` chars + ``...``/``…``
      occurrences) per word <= 0.1;
    * ``rule_bullet_lines``: <= 90% of lines start with a bullet
      (``-``, ``*``, ``•`` after leading whitespace);
    * ``rule_ellipsis_lines``: <= 30% of lines end with ``...``/``…``;
    * ``rule_alpha_words``: >= 80% of words contain an alphabetic char;
    * ``rule_stopwords``: >= ``min_stopword_hits`` distinct hits from
      ``stopwords`` — default is the paper's exact 8-word set
      ("contains at least 2 of the following English words: the, be,
      to, of, and, that, have, with"); pass another tuple for a
      different language profile.

    Every threshold compares as EXACT INTEGER cross-multiplication
    (``1000*count <= permille*total`` — no float division anywhere), so
    a SQL oracle replays each flag bit-for-bit and boundary documents
    cannot flip between engines. On an empty document (0 words /
    0 lines) the permille ratio rules pass vacuously; the word-count
    rule rejects it, and so does ``rule_mean_word_len`` (its explicit
    ``n_words > 0`` term fails — an undefined mean is not a passing
    mean). ``mode="filter"`` keeps only passing rows (flags dropped);
    ``mode="annotate"`` emits the flags.

    Scale: one shuffle-free JVM map pass, no Python workers — the same
    cost class as ``text_quality_score`` (the token/line lambdas are
    higher-order functions, single-stage though outside whole-stage
    codegen).
    """
    if mode not in ("annotate", "filter"):
        raise ValueError(f"text_gopher_rules: unknown mode {mode!r}")

    def _rules(df: DataFrame) -> DataFrame:
        c = F.coalesce(F.col(input_col).cast("string"), F.lit(""))
        toks = tokens(c)
        # counts as BIGINT before the cross-multiplications: 1000 * an
        # int count silently wraps past ~2.1M chars in non-ANSI mode
        n_words = F.size(toks).cast("long")
        sum_wl = F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
        )
        lines = F.filter(
            F.split(c, r"\n"), lambda l: F.trim(l) != ""
        )
        n_lines = F.size(lines).cast("long")
        hash_chars = F.length(c) - F.length(F.regexp_replace(c, r"#", ""))
        ellipses = F.regexp_count(c, F.lit(r"(\.\.\.|…)"))
        n_sym = (hash_chars + ellipses).cast("long")
        bullet_lines = F.size(
            F.filter(lines, lambda l: F.ltrim(l).rlike(r"^[-*•]"))
        ).cast("long")
        ellipsis_lines = F.size(
            F.filter(lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))
        ).cast("long")
        alpha_words = F.size(
            F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
        ).cast("long")
        sw = F.array(*[F.lit(w) for w in stopwords])
        sw_hits = F.size(
            F.array_intersect(F.array_distinct(tokens_lower(c)), sw)
        )
        flags = {
            "rule_word_count": (n_words >= min_words)
            & (n_words <= max_words),
            "rule_mean_word_len": (n_words > 0)
            & (sum_wl >= min_mean_word_len * n_words)
            & (sum_wl <= max_mean_word_len * n_words),
            "rule_symbol_ratio": 1000 * n_sym
            <= max_symbol_word_permille * n_words,
            "rule_bullet_lines": 1000 * bullet_lines
            <= max_bullet_line_permille * n_lines,
            "rule_ellipsis_lines": 1000 * ellipsis_lines
            <= max_ellipsis_line_permille * n_lines,
            "rule_alpha_words": 1000 * alpha_words
            >= min_alpha_word_permille * n_words,
            "rule_stopwords": sw_hits >= min_stopword_hits,
        }
        keep = None
        for expr in flags.values():
            keep = expr if keep is None else keep & expr
        out = df.withColumns({**flags, "gopher_keep": keep})
        if mode == "filter":
            return out.filter(F.col("gopher_keep")).drop(
                *flags.keys(), "gopher_keep"
            )
        return out

    return _rules


# terminal punctuation per C4: period, exclamation, question mark, or
# closing quote (Raffel et al. 2020 §2.2 — "terminal punctuation mark")
_C4_TERMINALS = (".", "!", "?", '"', "”", "'")


@register("text_c4_rules", streaming_ok=True)
def c4_rules(
    input_col: str = "text",
    min_line_words: int = 3,
    min_sentences: int = 5,
    bad_words: tuple = (),
    output_col: str = "c4_text",
    mode: str = "annotate",
) -> TransformerFn:
    """C4 cleaning heuristics (Raffel et al. 2020, arXiv:1910.10683
    §2.2) — the OTHER canonical pretraining web filter next to
    :func:`gopher_rules`: C4 first rewrites each page line-by-line, then
    drops whole pages. One pure projection, no shuffle:

    Line retention (applied first, producing ``output_col``): keep a
    line iff it (a) ends in a terminal punctuation mark
    (``. ! ? "`` — the paper's rule), (b) has at least
    ``min_line_words`` words, and (c) does not contain the word
    "javascript" (case-insensitive — the paper's cookie/JS-warning
    catch). Kept lines re-join with ``\\n``.

    Page rules (flags over the RAW page except where noted):

    * ``rule_sentences``: the CLEANED text has >= ``min_sentences``
      sentences, counted as terminal-mark occurrences (``[.!?]``) in
      the retained lines — C4 discards pages "with fewer than 5
      sentences" after line filtering;
    * ``rule_no_brace``: the raw page contains no ``{`` (code page
      proxy — the paper drops any page with a curly bracket);
    * ``rule_no_lorem``: the raw page does not contain the phrase
      "lorem ipsum" (case-insensitive);
    * ``rule_no_badwords``: no lowercased word of the raw page is in
      ``bad_words`` (the paper screens against a public blocklist;
      DEFAULT IS EMPTY — supply your deployment's list, the operator
      ships no opinion).

    ``c4_keep`` is the conjunction. Word/line splitting follows the
    family's whitespace convention, and every rule is an exact
    integer/string predicate (no float thresholds), so a SQL oracle
    replays each flag bit-for-bit. ``mode="filter"`` keeps passing rows
    only (flags dropped, cleaned text kept); ``mode="annotate"`` emits
    flags + cleaned text. The three-sentence-span dedup of the C4
    pipeline is deliberately NOT here — that is corpus-global, use
    ``text_line_dedup`` / ``text_paragraph_dedup``.

    Scale: one shuffle-free JVM map pass (higher-order line/word
    lambdas, the ``gopher_rules`` cost class); at 100 TB this is a
    pure map stage that pipelines into whatever shuffle follows.
    """
    if mode not in ("annotate", "filter"):
        raise ValueError(f"text_c4_rules: unknown mode {mode!r}")
    if min_line_words < 1:
        raise ValueError(
            f"text_c4_rules: min_line_words must be >= 1, got {min_line_words}"
        )

    def _rules(df: DataFrame) -> DataFrame:
        c = F.coalesce(F.col(input_col).cast("string"), F.lit(""))
        term = F.array(*[F.lit(t) for t in _C4_TERMINALS])
        kept_lines = F.filter(
            F.split(c, r"\n"),
            lambda l: (
                # regexp trim, NOT rtrim: rtrim strips only 0x20 spaces,
                # so CRLF pages ('...\r\n') would end every line in \r
                # and drop ALL lines — whitespace-insensitive terminal
                # check per the paper's intent
                F.array_contains(
                    term, F.right(F.regexp_replace(l, r"\s+$", ""), F.lit(1))
                )
                & (
                    F.size(
                        F.filter(
                            F.split(F.trim(l), r"\s+"), lambda t: t != ""
                        )
                    )
                    >= min_line_words
                )
                & ~F.lower(l).contains("javascript")
            ),
        )
        cleaned = F.array_join(kept_lines, "\n")
        n_sentences = F.regexp_count(cleaned, F.lit(r"[.!?]")).cast("long")
        flags = {
            "rule_sentences": n_sentences >= min_sentences,
            "rule_no_brace": ~c.contains("{"),
            "rule_no_lorem": ~F.lower(c).contains("lorem ipsum"),
        }
        if bad_words:
            bw = F.array(*[F.lit(w.lower()) for w in bad_words])
            flags["rule_no_badwords"] = (
                F.size(
                    F.array_intersect(
                        F.array_distinct(tokens_lower(c)), bw
                    )
                )
                == 0
            )
        else:
            flags["rule_no_badwords"] = F.lit(True)
        keep = None
        for expr in flags.values():
            keep = expr if keep is None else keep & expr
        out = df.withColumns(
            {
                output_col: cleaned,
                "n_lines_kept": F.size(kept_lines).cast("long"),
                **flags,
                "c4_keep": keep,
            }
        )
        if mode == "filter":
            return out.filter(F.col("c4_keep")).drop(
                *flags.keys(), "c4_keep"
            )
        return out

    return _rules


# fixed BMP ranges as LITERAL characters (not \\u escapes), so the same
# class string compiles identically under Java regex (Spark) and RE2
# (DuckDB) — script identity must not depend on an engine's Unicode
# property tables. Ordered: this order IS the dominant-script tiebreak.
SCRIPT_RANGES = (
    ("latin", "A-Za-z"),
    ("cyrillic", f"{chr(0x0400)}-{chr(0x04FF)}"),
    ("greek", f"{chr(0x0370)}-{chr(0x03FF)}"),
    ("arabic", f"{chr(0x0600)}-{chr(0x06FF)}"),
    ("hebrew", f"{chr(0x0590)}-{chr(0x05FF)}"),
    ("devanagari", f"{chr(0x0900)}-{chr(0x097F)}"),
    ("cjk", f"{chr(0x4E00)}-{chr(0x9FFF)}"),
    ("hangul", f"{chr(0xAC00)}-{chr(0xD7A3)}"),
    ("kana", f"{chr(0x3040)}-{chr(0x30FF)}"),
)


@register("text_script_mix", streaming_ok=True)
def script_mix(
    input_col: str = "text",
    output_prefix: str = "script_",
) -> TransformerFn:
    """Per-document Unicode-SCRIPT mixture profile — the language-ID
    sibling for the cases n-gram langid can't see: wrong-script
    contamination (Cyrillic spam inside an "English" crawl slice, CJK
    boilerplate in a Latin corpus), transliteration artifacts, and
    mixed-script spam, all standard LLM-corpus screens (mT5/CCNet both
    bucket by script before language).

    Emits, per row: one ``<prefix><script>`` count per entry of
    :data:`SCRIPT_RANGES` (characters in that fixed BMP range),
    ``<prefix>chars`` (total script-classified characters),
    ``<prefix>dominant`` (the script with the max count; ties resolve
    to the FIRST in ``SCRIPT_RANGES`` order; empty string when no
    classified characters), and ``<prefix>mix_permille`` — the permille
    of classified characters NOT in the dominant script, as exact
    integer floor division (``1000*(n - max)/n``), 0 for unclassified
    docs. A doc >0‰ mixed is worth a look; >100‰ is usually two
    languages glued together.

    Counting is ``length(s) - length(regexp_replace(s, class, ''))``
    per range — pure codegen string ops, one shuffle-free map pass (no
    explode, no Python). The ranges are LITERAL character classes, so
    Spark and any RE2-based oracle count identically regardless of
    their Unicode table versions; supplementary-plane scripts are out
    of scope by design (surrogate-pair counting diverges across
    engines).
    """

    def _mix(df: DataFrame) -> DataFrame:
        c = F.coalesce(F.col(input_col).cast("string"), F.lit(""))
        counts = {
            name: (
                F.length(c)
                - F.length(F.regexp_replace(c, f"[{rng}]", ""))
            ).cast("long")
            for name, rng in SCRIPT_RANGES
        }
        total = None
        for expr in counts.values():
            total = expr if total is None else total + expr
        mx = F.greatest(*counts.values())
        dominant = F.lit("")
        # reversed CASE chain: the FIRST script in SCRIPT_RANGES order
        # wins ties (each earlier when() overrides later ones)
        for name, _ in reversed(SCRIPT_RANGES):
            dominant = F.when(
                (mx > 0) & (counts[name] == mx), F.lit(name)
            ).otherwise(dominant)
        cols = {f"{output_prefix}{n}": e for n, e in counts.items()}
        cols[f"{output_prefix}chars"] = total
        cols[f"{output_prefix}dominant"] = dominant
        # floor of a double ratio of exact-long operands: both operands
        # are < 2^53 and the divisor is far below the 2^-52-ulp hazard
        # zone, so floor(a/b) here equals exact integer division in any
        # IEEE754 engine — the oracle replays floor(1000.0*(n-mx)/n)
        cols[f"{output_prefix}mix_permille"] = F.when(
            total > 0, F.floor(1000 * (total - mx) / total)
        ).otherwise(F.lit(0)).cast("long")
        return df.withColumns(cols)

    return _mix


@register("text_dsir_score")
def dsir_score(
    target_df: DataFrame,
    input_col: str = "text",
    id_col: str = "doc_id",
    target_text_col: str = "text",
    num_buckets: int = 10_000,
    max_ngram: int = 2,
    output_col: str = "dsir_score",
) -> TransformerFn:
    """DSIR importance scoring (Xie et al. 2023, arXiv:2302.03169):
    score every source document by how much more likely its hashed
    n-gram features are under the TARGET corpus's bucket distribution
    than under the source's own — the data-selection step that picks
    pretraining documents resembling a trusted target (the paper's
    hashed-n-gram importance resampling, minus the Gumbel top-k draw:
    this operator emits the raw log importance weight; compose with
    ``weighted_sample``/``quantile_prune`` to resample).

    Features: word 1..``max_ngram``-grams of the lowercased text (the
    ``shingles`` convention — a doc shorter than n words contributes its
    single joined shingle, an empty doc the empty-string gram), each
    hashed to ``md5-fold % num_buckets`` (the corpus-wide portable
    hash). Bucket probabilities are add-one smoothed over
    ``num_buckets``; every log10 is an INTEGER-argument snap to the
    4-dp scaled-bigint grid (the ``text_lm_score`` convention:
    ``floor(log10(c)*10^4 + 0.5)``), so the per-doc weight

        Σ_grams [S(ct_b + 1) − S(cs_b + 1)] + n_grams·[S(Ts + B) − S(Tt + B)]

    is exact integer arithmetic, replayed bit-for-bit by a SQL oracle.
    Positive = more target-like. Documents with a null ``id_col`` are
    excluded from the operator entirely — from scoring and from the
    source bucket distribution (an id-less row cannot be acted on
    downstream, so it gets no invisible influence on other scores).

    Scale design: the SOURCE corpus makes ONE gram-explode pass into a
    (doc, bucket) count aggregate — map-side combined, so the exchange
    carries each document's DISTINCT buckets with multiplicities, not
    the raw token stream — and BOTH consumers (the source bucket
    distribution and the per-doc scoring join) derive from that same
    exchange, which ReusedExchange dedupes within the single action
    (the :mod:`~lakehouse_engine_spark.datapipes.materialize` sharing
    rule). The target makes its own one explode pass into ≤
    ``num_buckets`` combined rows. The merged bucket table and the
    1-row totals both BROADCAST (gated: ``num_buckets`` ≤ 1M keeps the
    broadcast ≤ ~25 MB); scoring is broadcast-hash-join over the
    doc-bucket rows + one map-side-combined groupBy on the doc id,
    weighting each bucket's log-ratio by its per-doc count — exact
    integer arithmetic, identical totals to summing per gram. (Round 7
    computed the source gram projection twice instead — the explode was
    the dominant cost class, paid 2x; deriving both sides from the
    doc-bucket exchange halves it while shuffling strictly less data
    than the gram stream.)
    """
    if not 1 <= num_buckets <= 1_000_000:
        raise ValueError(
            f"text_dsir_score: num_buckets must be in [1, 1e6], got "
            f"{num_buckets} (the bucket table broadcasts)"
        )
    if max_ngram < 1:
        raise ValueError(
            f"text_dsir_score: max_ngram must be >= 1, got {max_ngram}"
        )
    if target_text_col not in target_df.columns:
        raise ValueError(
            f"text_dsir_score: target column {target_text_col!r} not in "
            f"the target frame (have {target_df.columns})"
        )

    # SQL-string builders (r15, the colbuild de-chatter convention):
    # the Column-chain form of the gram pipeline cost ~2,100 py4j
    # round-trips per query construction; these produce the IDENTICAL
    # operator trees (same when/otherwise shape, same left-assoc
    # arithmetic) as one parser call each.
    def _toks_sql(src: str) -> str:
        src = src.replace("`", "``")
        return f"filter(split(trim(lower(`{src}`)), '\\\\s+'), t -> t != '')"

    def _shingles_sql(src: str, n: int) -> str:
        toks = _toks_sql(src)
        return (
            f"CASE WHEN size({toks}) >= {n} THEN "
            f"transform(sequence(1, size({toks}) - {n} + 1), "
            f"i -> concat_ws(' ', slice({toks}, i, {n}))) "
            f"ELSE array(concat_ws(' ', {toks})) END"
        )

    def _grams_sql(src: str) -> str:
        parts = [_shingles_sql(src, n) for n in range(1, max_ngram + 1)]
        if len(parts) > 1:
            return f"flatten(array({', '.join(parts)}))"
        return parts[0]

    _bucket_sql = (
        f"cast(conv(substring(md5(__g), 1, 15), 16, 10) as bigint) "
        f"% {num_buckets}"
    )

    def _score(df: DataFrame) -> DataFrame:
        # INPUT CONTRACT: documents with a null id are excluded from the
        # operator entirely — from the per-doc scoring (a null id could
        # never match the left join) AND from the source bucket
        # distribution. This is a deliberate semantic: an id-less row
        # cannot be acted on downstream, so letting it shift every other
        # document's score would be unreproducible influence. The
        # EXPLICIT filter also carries the plan-reuse property: the
        # scoring branch joins on __id, so Catalyst infers
        # isnotnull(doc_id) into THAT branch only — without filtering
        # here the two (doc, bucket) aggregate subplans stop
        # canonicalizing identically and AQE re-runs the gram explode
        # instead of reusing the exchange.
        src = ensure_parallelism(df.filter(F.col(id_col).isNotNull())).select(
            F.col(id_col).alias("__id"),
            F.expr(f"explode({_grams_sql(input_col)}) as __g"),
        ).select("__id", F.expr(f"{_bucket_sql} as __b"))
        # ONE exchange of (doc, bucket, count) feeds both the source
        # bucket distribution and the per-doc scoring — ReusedExchange
        # dedupes the identical subplan within the action, so the gram
        # explode runs once (plan-gated in test_plan_quality)
        doc_buckets = src.groupBy("__id", "__b").agg(
            F.count(F.lit(1)).alias("__c")
        )
        tgt = ensure_parallelism(target_df).select(
            F.expr(f"explode({_grams_sql(target_text_col)}) as __g")
        ).select(F.expr(f"{_bucket_sql} as __b"))
        s_counts = doc_buckets.groupBy("__b").agg(
            F.sum("__c").alias("__cs")
        )
        t_counts = tgt.groupBy("__b").agg(F.count(F.lit(1)).alias("__ct"))
        tbl = (
            s_counts.join(t_counts, "__b", "full_outer")
            .select(
                "__b",
                log_grid(F.coalesce(F.col("__ct"), F.lit(0)) + 1).alias("__lt"),
                log_grid(F.coalesce(F.col("__cs"), F.lit(0)) + 1).alias("__ls"),
            )
        )
        stats = (
            s_counts.agg(F.sum("__cs").alias("__ts"))
            .crossJoin(t_counts.agg(F.sum("__ct").alias("__tt")))
            .select(
                log_grid(F.coalesce(F.col("__ts"), F.lit(0)) + num_buckets).alias(
                    "__sts"
                ),
                log_grid(F.coalesce(F.col("__tt"), F.lit(0)) + num_buckets).alias(
                    "__stt"
                ),
            )
        )
        scored = (
            doc_buckets.join(F.broadcast(tbl), "__b", "left")
            .groupBy("__id")
            .agg(
                F.sum(
                    F.col("__c")
                    * (
                        F.coalesce(F.col("__lt"), F.lit(0))
                        - F.coalesce(F.col("__ls"), F.lit(0))
                    )
                ).alias("__d"),
                F.sum("__c").alias("__n"),
            )
            .crossJoin(F.broadcast(stats))
            .select(
                "__id",
                (
                    F.col("__d")
                    + F.col("__n") * (F.col("__sts") - F.col("__stt"))
                ).alias(output_col),
            )
        )
        return df.join(
            scored, df[id_col] == scored["__id"], "left"
        ).drop("__id")

    return _score


register_with("text_dsir_score_with", dsir_score, "target_with", "target_df")


@register("text_decontaminate_spans")
def decontaminate_spans(
    benchmark_df: DataFrame,
    input_col: str = "text",
    id_col: str = "doc_id",
    benchmark_text_col: str = "text",
    ngram: int = 8,
    min_fragment_tokens: int = 20,
    output_col: str = "clean_fragments",
) -> TransformerFn:
    """SURGICAL decontamination (the GPT-3/PaLM appendix procedure):
    instead of dropping whole documents that share an n-gram with the
    benchmark (``text_decontaminate``'s mode), remove only the
    contaminated SPANS and keep the clean remainder as fragments —
    the variant that preserves the bulk of a long document leaking one
    quoted test item.

    Semantics (exact, oracle-replayable): tokens split on whitespace
    CASE-PRESERVING; matching runs on LOWERCASED token ``ngram``-grams
    against the distinct benchmark gram set; every matching start p
    contaminates token positions [p, p+ngram-1]; maximal runs of
    uncontaminated tokens become fragments (single-space joined, in
    order), and fragments BORN OF A SPLIT shorter than
    ``min_fragment_tokens`` are pruned (shards around a removed quote
    are usually boilerplate). Uncontaminated documents — including
    those shorter than the n-gram — pass through as ONE fragment
    regardless of length. Adds ``output_col`` (array<string>),
    ``n_removed_tokens``, ``n_fragments``.

    Scale design: the benchmark's gram hashes broadcast undeduplicated
    (:func:`_bench_gram_hashes`; eval sets are small); the corpus makes
    one gram-explode pass into a ``left_semi`` join, which benchmark
    duplicates cannot multiply, and ONLY the
    documents with hits (the rare case) take the exploded
    gaps-and-islands path (posexplode -> kept-token islands via one
    doc-keyed window -> fragment reassembly); clean documents ride a
    join-free pass-through projection. Shuffle volume beyond the gram
    probe is proportional to CONTAMINATED tokens, not the corpus.
    """
    if ngram < 1:
        raise ValueError(
            f"text_decontaminate_spans: ngram must be >= 1, got {ngram}"
        )
    if min_fragment_tokens < 0:
        raise ValueError(
            "text_decontaminate_spans: min_fragment_tokens must be >= 0, "
            f"got {min_fragment_tokens}"
        )

    def _decon(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        bench = _bench_gram_hashes(benchmark_df, benchmark_text_col, ngram)
        base = ensure_parallelism(df).select(
            F.col(id_col).alias("__id"), F.col(input_col).alias("__tx")
        )
        toks = base.select(
            "__id", tokens(F.col("__tx")).alias("__t")
        )
        # contaminated start positions (1-based), lowercased match
        starts = (
            toks.filter(F.size("__t") >= ngram)
            .select(
                "__id",
                F.posexplode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("__t") - ngram + 1),
                        lambda i: F.md5(
                            F.lower(
                                F.concat_ws(
                                    " ", F.slice(F.col("__t"), i, ngram)
                                )
                            )
                        ),
                    )
                ).alias("__p0", "__gh"),
            )
            .select("__id", (F.col("__p0") + 1).alias("__p"), "__gh")
            .join(bench, "__gh", "left_semi")
            .select("__id", "__p")
        )
        hit_starts = starts.groupBy("__id").agg(
            F.array_sort(F.collect_list("__p")).alias("__ps")
        )
        # the dirty-doc marker set, derived from the ALREADY-aggregated
        # starts (no extra distinct pass over the starts frame)
        hit_ids = hit_starts.select("__id")
        # dirty docs only: the inner join against hit_starts restricts
        # to exactly the hit ids — the former extra left_semi on a
        # distinct-ids frame bought nothing (r14 review finding)
        dirty = toks.join(hit_starts, "__id")
        kept = (
            dirty.select(
                "__id",
                "__ps",
                F.size("__t").alias("__n"),
                F.posexplode("__t").alias("__tp0", "__tok"),
            )
            .select(
                "__id", "__ps", "__n",
                (F.col("__tp0") + 1).alias("__tp"), "__tok",
            )
            .filter(
                ~F.exists(
                    "__ps",
                    lambda s: (F.col("__tp") >= s)
                    & (F.col("__tp") < s + ngram),
                )
            )
        )
        w = Window.partitionBy("__id").orderBy("__tp")
        frags = (
            kept.withColumn("__isl", F.col("__tp") - F.row_number().over(w))
            .groupBy("__id", "__isl")
            .agg(
                F.min("__tp").alias("__fp"),
                F.count(F.lit(1)).alias("__flen"),
                F.concat_ws(
                    " ", F.array_sort(F.collect_list(F.struct("__tp", "__tok")))
                    .getField("__tok")
                ).alias("__ftext"),
                F.first("__n").alias("__n"),
            )
            .filter(F.col("__flen") >= min_fragment_tokens)
            .groupBy("__id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__fp", "__ftext", "__flen"))
                ).alias("__fs"),
                F.sum("__flen").alias("__keptn"),
                F.first("__n").alias("__n"),
            )
            .select(
                "__id",
                F.col("__fs").getField("__ftext").alias("__frags"),
                (F.col("__n") - F.col("__keptn")).alias("__removed"),
            )
        )
        out = (
            df.join(
                frags, df[id_col] == frags["__id"], "left"
            )
            .drop("__id")
            .join(
                hit_ids.withColumnRenamed("__id", "__hid"),
                df[id_col] == F.col("__hid"),
                "left",
            )
        )
        is_dirty = F.col("__hid").isNotNull()
        clean_toks = tokens(F.col(input_col))
        whole = F.when(
            F.size(clean_toks) > 0,
            F.array(F.concat_ws(" ", clean_toks)),
        ).otherwise(F.array().cast("array<string>"))
        return (
            out.withColumn(
                output_col,
                F.when(
                    is_dirty,
                    F.coalesce(
                        "__frags", F.array().cast("array<string>")
                    ),
                ).otherwise(whole),
            )
            .withColumn(
                "n_removed_tokens",
                F.when(is_dirty,
                       F.coalesce(
                           "__removed",
                           F.size(tokens(F.col(input_col))).cast("long"),
                       ))
                .otherwise(F.lit(0))
                .cast("long"),
            )
            .withColumn("n_fragments", F.size(output_col).cast("int"))
            .drop("__frags", "__removed", "__hid")
        )

    return _decon


@register("text_char_entropy")
def char_entropy(
    input_col: str = "text",
    id_col: str = "doc_id",
    output_col: str = "char_entropy",
) -> TransformerFn:
    """Per-document CHARACTER-distribution Shannon entropy (bits/char) —
    the cheap garbled-text detector quality batteries lean on: natural
    prose sits ~3.5–4.5 bits/char, base64/hex blobs and binary-in-text
    run high with a flat distribution, stuck-key/whitespace runs and
    template spam run low. Complements :func:`quality_score`'s ratio
    features (which can miss high-entropy garbage that keeps sane
    word lengths) and :func:`repetition` (n-gram level).

    Numeric contract (the dp35 convention): entropy decomposes as
    ``log2(n) − (Σ c·log2(c)) / n`` over per-character counts ``c``;
    each ``log2`` lands on the exact 4dp scaled-BIGINT grid
    (``floor(x·10⁴ + 0.5)``), the ``Σ c·log2(c)`` accumulates as exact
    integers (order-free), and ONE final double division produces the
    emitted value — bit-replayable by any engine. Empty/NULL text emits
    NULL (no distribution to measure); ``n_chars_counted`` carries the
    denominator.

    Scale design: explode to (doc, char) pairs, ONE map-side-combined
    count per (doc, char), one per-doc sum — two keyed aggregations on
    the doc id, no windows, no joins back (the grouped result carries
    the id). At 100 TB the (doc, char) key space is ~alphabet×docs, so
    the combine step collapses each partition's pairs before the
    shuffle.
    """

    def _ent(df: DataFrame) -> DataFrame:
        pairs = (
            ensure_parallelism(df)
            .select(
                F.col(id_col).alias("__id"),
                F.explode(
                    F.split(F.col(input_col), "")
                ).alias("__ch"),
            )
            .filter(F.col("__ch") != "")
            .groupBy("__id", "__ch")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        lg = log_grid("__c", base=2)
        per_doc = pairs.groupBy("__id").agg(
            F.sum("__c").cast("long").alias("__n"),
            F.sum(F.col("__c") * lg).alias("__sclc"),
        )
        ent = (
            log_grid("__n", base=2).cast("double")
            - F.col("__sclc").cast("double") / F.col("__n")
        ) / 10_000.0
        return (
            df.join(per_doc, df[id_col] == per_doc["__id"], "left")
            .withColumn(output_col, ent)
            .withColumn(
                "n_chars_counted",
                F.coalesce(F.col("__n"), F.lit(0)).cast("long"),
            )
            .drop("__id", "__n", "__sclc")
        )

    return _ent


@register("text_dup_line_stats")
def dup_line_stats(
    input_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> TransformerFn:
    """The duplicate-line half of Gopher's repetition battery (Rae et
    al. 2021 §A1.1 — ``text_repetition`` covers the distinct-word and
    top-n-gram cells): per document, how many lines are exact
    duplicates of another line in the SAME document, and what fraction
    of line characters sit in those duplicates — the boilerplate /
    scraped-navigation signal. ``sep`` is a regex (default newline;
    pass ``\\n\\n+`` for the paragraph variant). Lines compare TRIMMED,
    empties dropped.

    Adds ``n_lines``, ``n_dup_lines``, ``dup_line_frac``,
    ``dup_char_frac``. The fractions are single IEEE divisions of exact
    integer counts (no ``round()`` anywhere — both engines produce the
    identical correctly-rounded double), so the oracle matches
    bit-for-bit.

    Scale design: explode -> ONE map-side-combined (doc, line)
    aggregate (shuffled volume is distinct lines per doc, not corpus
    lines) -> one doc-keyed aggregate -> id join back; the
    ``text_repetition`` cost class.
    """

    def _stats(df: DataFrame) -> DataFrame:
        base = (
            ensure_parallelism(df)
            .select(
                F.col(id_col).alias("__id"),
                F.explode(
                    F.filter(
                        F.transform(
                            F.split(
                                F.coalesce(
                                    F.col(input_col).cast("string"),
                                    F.lit(""),
                                ),
                                sep,
                            ),
                            lambda l: ws_line_trim(l),
                        ),
                        lambda l: l != "",
                    )
                ).alias("__l"),
            )
        )
        grp = base.groupBy("__id", "__l").agg(
            F.count(F.lit(1)).alias("__c")
        )
        per_doc = grp.groupBy("__id").agg(
            F.sum("__c").cast("long").alias("n_lines"),
            F.sum(F.when(F.col("__c") >= 2, F.col("__c")).otherwise(0))
            .cast("long")
            .alias("n_dup_lines"),
            F.sum(F.length("__l") * F.col("__c")).cast("long").alias("__tc"),
            F.sum(
                F.when(
                    F.col("__c") >= 2, F.length("__l") * F.col("__c")
                ).otherwise(0)
            )
            .cast("long")
            .alias("__dc"),
        )
        out = df.join(
            per_doc, df[id_col] == per_doc["__id"], "left"
        ).drop("__id")
        return (
            out.withColumn("n_lines", F.coalesce("n_lines", F.lit(0)))
            .withColumn("n_dup_lines", F.coalesce("n_dup_lines", F.lit(0)))
            .withColumn(
                "dup_line_frac",
                F.when(
                    F.col("n_lines") > 0,
                    F.col("n_dup_lines").cast("double") / F.col("n_lines"),
                ).otherwise(F.lit(0.0)),
            )
            .withColumn(
                "dup_char_frac",
                F.when(
                    F.coalesce("__tc", F.lit(0)) > 0,
                    F.col("__dc").cast("double") / F.col("__tc"),
                ).otherwise(F.lit(0.0)),
            )
            .drop("__tc", "__dc")
        )

    return _stats


@register("source_unigram_divergence")
def source_unigram_divergence(
    group_col: str = "source",
    input_col: str = "text",
) -> TransformerFn:
    """Per-source distribution drift for mixture design: the KL divergence
    ``KL(P_source ‖ P_corpus)`` between each source's unigram distribution
    and the whole corpus's, in log10 units (``kl_nats = kl10 · ln 10``) —
    the quantitative answer to "which sources are distributionally far
    from the blend" when weighting a training mixture (pair with
    ``mixture_plan``; DSIR answers the per-DOCUMENT version of the same
    question against a target).

    Numeric design (the oracle contract): with c_sw the source token
    counts, c_w the corpus counts, N_s and N the masses, the divergence
    decomposes as ``[Σ_w c_sw·(L(c_sw) − L(c_w)) + N_s·(L(N) − L(N_s))]
    / (N_s·10⁴)`` where ``L(x) = floor(log10(x)·10⁴ + 0.5)`` — every log
    has an INTEGER argument snapped to the scaled-BIGINT grid, the sums
    are exact order-independent integer arithmetic, and the only double
    op is the final division. No engine ``round()``, no float
    accumulation — bit-replayable by any ANSI engine.

    Scale design: one corpus-wide (source, token) count — a standard
    map-side-combined word-count shuffle; EVERYTHING downstream runs on
    vocabulary-sized tables derived from it (the corpus count re-aggs
    the source counts — the corpus is scanned ONCE: the re-agg and the
    join share the source-count exchange, the
    :mod:`~lakehouse_engine_spark.datapipes.materialize` sharing rule).
    The per-source result is one row per source.
    """

    def _div(df: DataFrame) -> DataFrame:
        toks = df.select(
            F.col(group_col).alias("__g"),
            F.explode(tokens_lower(F.col(input_col))).alias("__w"),
        )
        sw = toks.groupBy("__g", "__w").agg(F.count(F.lit(1)).alias("__c"))
        cw = sw.groupBy("__w").agg(F.sum("__c").alias("__cw"))
        tot = cw.agg(F.sum("__cw").alias("__n"))
        agg = (
            sw.join(cw, "__w")
            .groupBy("__g")
            .agg(
                F.sum("__c").alias("n_tokens"),
                F.count(F.lit(1)).alias("n_distinct_tokens"),
                F.sum(F.col("__c") * (log_grid("__c") - log_grid("__cw"))).alias("__s"),
            )
        )
        num = F.col("__s") + F.col("n_tokens") * (log_grid("__n") - log_grid("n_tokens"))
        return (
            agg.crossJoin(F.broadcast(tot))
            .select(
                F.col("__g").alias(group_col),
                "n_tokens",
                "n_distinct_tokens",
                (
                    num.cast("double")
                    / (F.col("n_tokens") * 10_000).cast("double")
                ).alias("kl10"),
            )
        )

    return _div


@register("text_ngram_novelty")
def ngram_novelty(
    input_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> TransformerFn:
    """Per-document n-gram novelty: how much of a document's n-gram set
    exists NOWHERE else in the corpus — the memorization/boilerplate
    lens (near-zero novelty = template or near-dup tail even when no
    dedup pair fires; dedup asks "is there a twin", novelty asks "how
    much of THIS text is corpus-unique"). Output: the input plus
    ``n_distinct_grams`` (the doc's distinct n-gram count) and
    ``n_unique_grams`` (those appearing in no OTHER document) — integer
    columns, so downstream ratio thresholds are the caller's choice and
    the result stays hash-exact.

    Shingling follows :func:`shingles`: lowercase whitespace tokens,
    documents shorter than ``n`` words contribute their whole text as
    one gram. Repeats WITHIN a document don't spoil uniqueness — the
    document-frequency table counts distinct (gram, doc) pairs.

    Scale design: explode → distinct (gram, doc) pairs → one map-side-
    combined document-frequency count on the gram digest → equi-join
    back on the digest (both sides hash-partitioned on it — AQE
    coalesces) → one doc-keyed count. Grams travel as md5 digests, not
    strings, so shuffle width is constant per gram. No broadcast of the
    corpus-sized gram table, no pairwise joins.
    """
    if n < 1:
        raise ValueError(f"text_ngram_novelty: n must be >= 1, got {n}")

    def _nov(df: DataFrame) -> DataFrame:
        pairs = (
            # NULL text carries no grams (left join -> NULL counts); the
            # explicit filter keeps Spark's array(concat_ws(NULL)) -> [""]
            # quirk out of the gram set, matching the SQL-oracle semantics
            df.filter(F.col(input_col).isNotNull())
            .select(
                F.col(id_col).alias("__id"),
                F.explode(shingles(F.col(input_col), n)).alias("__g"),
            )
            .select("__id", F.md5(F.col("__g")).alias("__d"))
            .distinct()
        )
        freq = pairs.groupBy("__d").agg(F.count(F.lit(1)).alias("__df"))
        per_doc = (
            pairs.join(freq, "__d")
            .groupBy("__id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_distinct_grams"),
                F.sum((F.col("__df") == 1).cast("long")).alias("n_unique_grams"),
            )
        )
        return df.join(
            per_doc, df[id_col] == per_doc["__id"], "left"
        ).drop("__id")

    return _nov


@register("text_winnow_fingerprint")
def winnow_fingerprint(
    input_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> TransformerFn:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003
    — the MOSS algorithm): character ``k``-gram hashes over the
    normalized text, one fingerprint selected per sliding ``window`` of
    consecutive hashes (the window's minimum; RIGHTMOST position on
    ties, per the original's density argument). Guarantee: any verbatim
    match of length ≥ ``window + k − 1`` characters shares at least one
    selected fingerprint — the copy-detection primitive that survives
    insertions/reordering where whole-doc hashes and minhash-over-words
    don't localize. Output: one row per distinct (doc, position,
    fingerprint), ``pos`` 1-based over the normalized text.

    Normalization: lowercase, strip everything outside [a-z0-9] — the
    standard MOSS whitespace/punctuation immunity. Gram values: for
    ``k ≤ 12`` the gram is PACKED base-36 into a BIGINT (36¹² < 2⁶³) —
    collision-FREE gram identity at ~10x the throughput of hashing
    (integer ops over a per-doc code array vs one md5 + hex-parse per
    gram; measured 83 s → winnow probe in BASELINE.md); for larger k it
    falls back to the engine's shared 60-bit md5 prefix
    (collision-safe for fingerprint OVERLAP detection; not a uniqueness
    counter). Texts shorter than ``k`` after normalization yield no
    fingerprints; docs with fewer than ``window`` grams winnow one
    fingerprint from the grams they have.

    Scale design: the gram/hash/winnow pipeline is ONE codegen'd
    projection per document (array expressions over the text — no
    explode of raw grams, no shuffle until the final distinct on the
    selected fingerprints, which are ~1/window of the grams). Per-doc
    cost is O(len·window) comparisons inside the projection; the
    exploded output is the SELECTED set only.
    """
    if k < 1 or window < 1:
        raise ValueError("text_winnow_fingerprint: k and window must be >= 1")

    def _winnow(df: DataFrame) -> DataFrame:
        norm = F.regexp_replace(F.lower(F.col(input_col)), "[^a-z0-9]", "")
        m = F.length(norm) - k + 1  # gram count
        # MATERIALIZE the gram-value array behind projection boundaries:
        # the winnow expression slices it O(window) times per window — an
        # inlined subtree would re-derive every gram value at every slice
        # site (O(m²·window) work per doc; measured pathological).
        # Behind a bound column reference the values compute once per doc.
        base = ensure_parallelism(df.filter(F.col(input_col).isNotNull() & (m >= 1)))
        if k <= 12:
            # packed base-36 gram codes: one ascii map per CHAR (staged
            # behind its own projection), then k integer ops per gram
            # over the bound code array. Expressions are SQL strings
            # (datapipes/colbuild rationale): the Column-chain form made
            # hundreds of py4j round-trips per side for trees the SQL
            # parser builds JVM-side in one call — operator-for-operator
            # identical, same left-associative gram fold.
            with_codes = (
                base.select(F.col(id_col).alias("__id"), norm.alias("__s"))
                .select(
                    "__id",
                    F.expr(
                        "transform(sequence(1, length(__s)), p -> cast("
                        "CASE WHEN ascii(substr(__s, p, 1)) >= 97"
                        " THEN ascii(substr(__s, p, 1)) - 87"
                        " ELSE ascii(substr(__s, p, 1)) - 48 END"
                        " as bigint)) as __codes"
                    ),
                )
            )
            gram_sql = " + ".join(
                f"element_at(__codes, cast(i + {j} as int))"
                f" * cast({36 ** (k - 1 - j)} as bigint)"
                for j in range(k)
            )
            staged = with_codes.select(
                "__id",
                F.expr(
                    f"transform(sequence(1, size(__codes) - {k} + 1), "
                    f"i -> {gram_sql}) as __hs"
                ),
            )
        else:
            hs = F.transform(
                F.sequence(F.lit(1), m),
                lambda i: md5_fold(F.substring(norm, i, k)),
            )
            staged = base.select(F.col(id_col).alias("__id"), hs.alias("__hs"))
        # full windows only (i <= m-w+1): pure scalar least over w
        # bound-array lookups — no slice/reverse allocations (the
        # allocation-per-window form measured 2x slower at 40M grams)
        at_sql = [
            f"element_at(__hs, cast(i + {j} as int))" for j in range(window)
        ]
        win_min_sql = (
            "least(" + ", ".join(at_sql) + ")" if window > 1 else at_sql[0]
        )
        # RIGHTMOST minimal position: CASE branches scan j from the right
        win_pos_sql = (
            "CASE "
            + " ".join(
                f"WHEN {at_sql[j]} = {win_min_sql} THEN i + {j}"
                for j in range(window - 1, -1, -1)
            )
            + " END"
        )
        # single partial window (m < w): min of ALL grams, rightmost tie
        partial_sql = (
            "named_struct("
            "'pos', cast(1 + size(__hs)"
            " - array_position(reverse(__hs), array_min(__hs)) as int), "
            "'fp', array_min(__hs))"
        )
        fps_sql = (
            f"transform(sequence(1, greatest(size(__hs) - {window} + 1, 1)), "
            f"i -> CASE WHEN size(__hs) >= {window} THEN named_struct("
            f"'pos', cast({win_pos_sql} as int), 'fp', {win_min_sql}) "
            f"ELSE {partial_sql} END)"
        )
        return (
            staged.select("__id", F.expr(f"explode({fps_sql}) as __f"))
            .select(
                F.col("__id").alias(id_col),
                F.col("__f.pos").alias("pos"),
                F.col("__f.fp").alias("fp"),
            )
            .distinct()
        )

    return _winnow


@register("text_seed_classifier_score")
def seed_classifier_score(
    pos_df: DataFrame,
    input_col: str = "text",
    id_col: str = "doc_id",
    pos_text_col: str = "text",
    top_v: int = 10_000,
    output_col: str = "seed_llr",
) -> TransformerFn:
    """Seed-set quality classifier (the CCNet/GPT-3 'fastText filter'
    shape): a Naive-Bayes log-likelihood-ratio scorer trained on a
    trusted POSITIVE seed corpus (``pos_df``: Wikipedia, curated pages)
    against the input corpus itself as the negative class — score > 0
    reads "more seed-like than corpus-like". Where DSIR scores hashed
    n-gram buckets against a target distribution, this trains on an
    EXPLICIT token vocabulary (interpretable per-token weights, exactly
    what exported fastText/NB quality filters ship) and emits a
    prediction. Output: the input plus ``seed_llr`` (scaled-BIGINT
    log10 LLR on the 1e-4 grid — NULL for token-less docs),
    ``n_scored_tokens``, and ``seed_pred`` (llr > 0).

    Model: add-one-smoothed class-conditional unigrams over the shared
    top-``top_v`` vocabulary (ranked by combined class count, token
    tie-break — deterministic at the cutoff). With S(x) the scaled
    integer log, cp/cn per-token class counts, Np/Nn in-vocab masses
    and V the realized vocab size:

        llr = Σ_tokens [S(cp+1) − S(cn+1)] + n·[S(Nn+V) − S(Np+V)]

    — every log argument an integer, sums exact and order-independent,
    bit-replayable by a SQL oracle. Out-of-vocab tokens take the same
    zero-count arithmetic as unseen in-vocab tokens (cp=cn=0), so no
    separate OOV constant leaks in.

    Scale design: one token-count pass per class (map-side combined,
    vocabulary-sized output), full-outer merge, TakeOrdered cap to
    ``top_v`` → the vocab table (it feeds the 1-row masses AND the probe,
    sharing its exchanges — the
    :mod:`~lakehouse_engine_spark.datapipes.materialize` sharing rule)
    **broadcasts**; scoring is explode →
    broadcast-hash-join → one doc-keyed agg — the ``text_lm_score``
    posture: no corpus-side shuffle beyond the doc-id agg, vocab side
    constant-size at any corpus scale.
    """
    if top_v < 1:
        raise ValueError(f"text_seed_classifier_score: top_v must be >= 1, got {top_v}")

    def _score(df: DataFrame) -> DataFrame:
        cn = (
            df.select(F.explode(tokens_lower(F.col(input_col))).alias("__w"))
            .groupBy("__w")
            .agg(F.count(F.lit(1)).alias("__cn"))
        )
        cp = (
            pos_df.select(F.explode(tokens_lower(F.col(pos_text_col))).alias("__w"))
            .groupBy("__w")
            .agg(F.count(F.lit(1)).alias("__cp"))
        )
        vocab = (
            cn.join(cp, "__w", "full")
            .select(
                "__w",
                F.coalesce("__cn", F.lit(0)).alias("__cn"),
                F.coalesce("__cp", F.lit(0)).alias("__cp"),
            )
            .orderBy(F.desc(F.col("__cn") + F.col("__cp")), F.asc("__w"))
            .limit(top_v)
        )
        masses = vocab.agg(
            F.sum("__cp").alias("__np"),
            F.sum("__cn").alias("__nn"),
            F.count(F.lit(1)).alias("__v"),
        )
        toks = df.select(
            F.col(id_col).alias("__id"),
            F.explode(tokens_lower(F.col(input_col))).alias("__w"),
        )
        scored = (
            toks.join(F.broadcast(vocab), "__w", "left")
            .withColumn(
                "__lp",
                log_grid(F.coalesce("__cp", F.lit(0)) + 1)
                - log_grid(F.coalesce("__cn", F.lit(0)) + 1),
            )
            .groupBy("__id")
            .agg(F.count(F.lit(1)).alias("__nt"), F.sum("__lp").alias("__slp"))
        )
        const = log_grid(F.col("__nn") + F.col("__v")) - log_grid(
            F.col("__np") + F.col("__v")
        )
        return (
            df.join(scored, df[id_col] == scored["__id"], "left")
            .crossJoin(F.broadcast(masses))
            .withColumn(output_col, F.col("__slp") + F.col("__nt") * const)
            .withColumn("n_scored_tokens", F.coalesce("__nt", F.lit(0)).cast("int"))
            .withColumn("seed_pred", F.col(output_col) > 0)
            .drop("__id", "__nt", "__slp", "__np", "__nn", "__v")
        )

    return _score
