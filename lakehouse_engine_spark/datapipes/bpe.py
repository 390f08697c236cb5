"""Distributed BPE (byte-pair-encoding) vocabulary training and encoding.

Real subword tokenization for the training-data pipeline — not the
regex approximation in ``text.py`` (which estimates counts without a
model). ``bpe_train`` learns a merge table from the corpus; ``bpe_encode``
tokenizes with it.

Scale design — the key fact is that BPE trains on the WORD-FREQUENCY
table, not the corpus:

* ONE corpus pass builds ``(distinct word, count)`` — everything after
  runs on that table (vocabulary-sized: ~10^6-10^8 rows at 100 TB, vs
  10^12 corpus tokens).
* Words are held as space-separated symbol strings ("h e l l o </w>");
  a merge round is: explode adjacent symbol pairs (JVM array ops),
  weighted count (map-side combined), collect the top pair(s) — a few
  KB to the driver — then apply them with chained ``regexp_replace``
  (codegen, no Python). ``merges_per_round > 1`` batches non-interacting
  merges into one pass (the standard trainer speedup; exact canonical
  BPE at ``merges_per_round=1`` — batched merges may reorder ranks when
  top pairs interact).
* ``localCheckpoint`` truncates the per-round lineage the way the
  connected-components loop does (dedup.py); under
  ``spark.dynamicAllocation.enabled`` ``iter_materialize`` instead
  persists (recomputable) behind a plan-truncating LogicalRDD wrapper
  with an explicit ``release`` per round (materialize.py) — so executor
  scale-in cannot strand non-recomputable checkpoint blocks and
  long-lived sessions cannot leak cache entries.
* The four encoders (``bpe_encode``, ``bpe_byte_encode``,
  ``wordpiece_encode``, ``unigram_encode``) never tokenize the corpus in
  Python: they share one plan, :func:`_dictionary_encode`, which encodes
  the DISTINCT words only and attaches the word→pieces dictionary by its
  size — a literal map, driver-encoded broadcast rows, or a pandas encode
  joined back by broadcast or, above ``driver_tier.BROADCAST_MAX_ROWS``
  words, by shuffle — then reassembles per document with JVM array functions.
"""

from __future__ import annotations

import re
from typing import Callable, List, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from lakehouse_engine_spark.datapipes.driver_tier import (
    bounded_collect,
    fits_broadcast,
)
from lakehouse_engine_spark.datapipes.materialize import (
    iter_materialize,
    probe_materialize,
    release,
)

from lakehouse_engine_spark.datapipes.registry import register, register_with
from lakehouse_engine_spark.datapipes.text import tokens


TransformerFn = Callable[[DataFrame], DataFrame]

END = "</w>"


def _to_symbols(word_col):
    """'hello' -> 'h e l l o </w>' (symbol-spaced string)."""
    return F.concat(F.array_join(F.split(word_col, ""), " "), F.lit(" " + END))


def _word_counts(df: DataFrame, text_col: str) -> DataFrame:
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )


# The GPT-2 pretokenizer (Radford et al. 2019, public encoder.py):
#   's|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+
# Everything here EXCEPT the \s+(?!\S) lookahead is plain alternation.
# RE2 (DuckDB, and the portability bar text_sentence_split set) has no
# lookahead, so the split is restated exactly without it: \s+(?!\S)
# consumes a whitespace run MINUS its final character whenever a
# non-space follows — i.e. the run's last space detaches and glues onto
# the next word (the " word" tokens GPT-2 vocabularies are built on).
# Inserting a marker before that final whitespace char
# (regexp_replace '(\s)(\S)' -> MARK + '$1$2') and then running the
# lookahead-FREE alternation inside each marker-delimited segment yields
# the identical token stream: within a segment, whitespace is either the
# single space the ` ?` alternatives absorb, or a trailing run the plain
# \s+ branch takes whole — exactly the two cases the lookahead decided.
# The whitespace CLASS is spelled out literally instead of \s: the three
# engines that must agree bit-for-bit disagree on \s (Java includes \x0b
# but not U+00A0; RE2's \s is ASCII-only; the reference Python pattern's
# \s is the full Unicode set). This literal set IS Python's Unicode \s
# (enumerated from re) — embedded as raw characters because RE2 has no
# \uXXXX escape, so raw chars are the only spelling valid in both Java
# regex and RE2.
GPT2_WS_CHARS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)
GPT2_SPLIT_PATTERN = (
    "'s|'t|'re|'ve|'m|'ll|'d"
    f"| ?\\p{{L}}+| ?\\p{{N}}+| ?[^{GPT2_WS_CHARS}\\p{{L}}\\p{{N}}]+"
    f"|[{GPT2_WS_CHARS}]+"
)
# U+E000 (private use): cannot collide with any byte symbol, and is
# stripped from the input first so adversarial text cannot forge splits.
GPT2_MARK = "\ue000"


# The Spark-side pattern spells the \s+(?!\S) branch DIRECTLY — Java
# regex has lookahead, and one regexp_extract_all pass measured 2.2x
# faster than the marker chain (r14: 0.53 s -> 0.24 s per sf0.1 corpus
# pass, regex work ~4x less). (?![^WS]) is (?!\S) restated over the
# literal class. The marker construction above remains the documented
# RE2-portable equivalent the DuckDB oracles replay; the two are pinned
# token-identical in tests (corpus + adversarial whitespace strings).
GPT2_JAVA_PATTERN = (
    "'s|'t|'re|'ve|'m|'ll|'d"
    f"| ?\\p{{L}}+| ?\\p{{N}}+| ?[^{GPT2_WS_CHARS}\\p{{L}}\\p{{N}}]+"
    f"|[{GPT2_WS_CHARS}]+(?![^{GPT2_WS_CHARS}])|[{GPT2_WS_CHARS}]+"
)


def gpt2_pretokens(col):
    """GPT-2 regex pretokenization as ONE native ``regexp_extract_all``
    over the reference pattern (Java regex keeps the ``\\s+(?!\\S)``
    lookahead; the RE2-portable marker construction documented above is
    what SQL oracles replay — bit-identical by the equivalence argument,
    and pinned equal in tests). Tokens KEEP their leading space (the
    GPT-2 convention); whitespace-only tokens (``"\\n\\n"`` between
    paragraphs) survive. The U+E000 strip is kept so marker-replaying
    oracles agree on adversarial inputs too."""
    cleaned = F.regexp_replace(col, GPT2_MARK, "")
    return F.regexp_extract_all(cleaned, F.lit(GPT2_JAVA_PATTERN), F.lit(0))


def _pretokens(col, pretokenizer: str):
    if pretokenizer == "whitespace":
        return tokens(col)
    if pretokenizer == "gpt2":
        return gpt2_pretokens(col)
    raise ValueError(
        f"pretokenizer must be 'whitespace' or 'gpt2', got {pretokenizer!r}"
    )


def apply_merges_py(word: str, merges: List[Tuple[str, str]]) -> List[str]:
    """Reference encoder: apply merges in rank order to one word."""
    syms = list(word) + [END]
    for a, b in merges:
        i, out = 0, []
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


# Driver tier budget of the BPE trainers: distinct word rows, ~12 MB at
# the default (see driver_tier.py). The driver loop makes the same picks:
# pair counts are exact integer sums, and the (count DESC, pair ASC)
# tie-break compares Python str the way Spark compares UTF8String.
DRIVER_TRAIN_THRESHOLD_ROWS = 200_000


def _merge_adjacent(syms: List[str], a: str, b: str) -> List[str]:
    """One left-to-right non-overlapping merge pass over a symbol list —
    exactly the anchored ``regexp_replace`` pass the distributed loop
    applies to the space-joined symbol string (Java's replaceAll scans
    left to right and resumes after each match, so "a a a" under (a,a)
    becomes "aa a" on both paths)."""
    out: List[str] = []
    i, n, ab = 0, len(syms), a + b
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_merge_loop_driver(
    rows: List[Tuple[str, int]], num_merges: int, merges_per_round: int
) -> List[Tuple[str, str]]:
    """Driver-side replica of :func:`_train_merge_loop`'s round body over
    collected ``(__s, __cnt)`` rows: same exact-integer pair counting,
    same ``(count DESC, pair ASC)`` order, same top-(3×merges_per_round)
    candidate window, same non-interacting batch pick, same sequential
    merge passes. Kept step-for-step parallel to the distributed loop so
    the two can never drift (pinned equal in tests/test_datapipes.py)."""
    words: List[Tuple[List[str], int]] = [
        (s.split(" "), int(c)) for s, c in rows
    ]
    merges: List[Tuple[str, str]] = []
    while len(merges) < num_merges:
        cnt: dict = {}
        for syms, c in words:
            for i in range(len(syms) - 1):
                p = syms[i] + " " + syms[i + 1]
                cnt[p] = cnt.get(p, 0) + c
        top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[
            : merges_per_round * 3
        ]
        if not top:
            break
        picked: List[Tuple[str, str]] = []
        used: set = set()
        for pair, _n in top:
            if (
                len(picked) >= merges_per_round
                or len(merges) + len(picked) >= num_merges
            ):
                break
            a, b = pair.split(" ")
            if a in used or b in used or (a + b) in used:
                continue
            picked.append((a, b))
            used.update((a, b, a + b))
        if not picked:
            break
        for a, b in picked:
            words = [(_merge_adjacent(syms, a, b), c) for syms, c in words]
        merges.extend(picked)
    return merges


@register("bpe_train")
def bpe_train(
    text_col: str = "text",
    num_merges: int = 100,
    merges_per_round: int = 1,
    lowercase: bool = False,
) -> TransformerFn:
    """Learn a BPE merge table from the corpus; returns one row per merge:
    ``(rank, left, right, merged)`` in application order, ties broken by
    pair string (deterministic). Iterative by nature (each merge depends
    on the counts AFTER the previous one), so there is no SQL oracle —
    correctness is pinned against a pure-Python reference trainer in
    tests. Caveat: a corpus WORD spelled literally ``</w>`` could, after
    enough merges, produce a symbol colliding with the end-of-word
    marker; whitespace tokenization makes this effectively impossible on
    natural text, but pre-filter adversarial corpora.
    """
    if num_merges < 1:
        raise ValueError(f"bpe_train: num_merges must be >= 1, got {num_merges}")
    if merges_per_round < 1:
        raise ValueError(
            f"bpe_train: merges_per_round must be >= 1, got {merges_per_round}"
        )

    def _train(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        src = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
        words = iter_materialize(
            _word_counts(df.select(src.alias(text_col)), text_col)
            .select(_to_symbols(F.col("__w")).alias("__s"), "__cnt")
        )
        return _train_merge_loop(spark, words, num_merges, merges_per_round)

    return _train


def _train_merge_loop(
    spark,
    words: DataFrame,
    num_merges: int,
    merges_per_round: int,
) -> DataFrame:
    """The shared BPE merge loop over a materialized ``(__s symbol
    string, __cnt)`` word-frequency table — char-level (``bpe_train``,
    with ``</w>``) and byte-level (``bpe_byte_train``, byte symbols, no
    marker) seed it differently but train identically. Takes OWNERSHIP
    of ``words``' cache handle (releases it every round and at exit).

    Tables within :data:`DRIVER_TRAIN_THRESHOLD_ROWS` train on the
    driver via :func:`_train_merge_loop_driver` — zero per-round Spark
    jobs, identical merge table."""
    head = bounded_collect(words, DRIVER_TRAIN_THRESHOLD_ROWS)
    if head is not None:
        release(words)
        picked = _train_merge_loop_driver(
            [(r["__s"], r["__cnt"]) for r in head],
            num_merges,
            merges_per_round,
        )
        return spark.createDataFrame(
            [(i, a, b, a + b) for i, (a, b) in enumerate(picked)],
            "rank INT, left STRING, right STRING, merged STRING",
        )
    merges: List[Tuple[str, str]] = []
    try:
        while len(merges) < num_merges:
            syms = F.split(F.col("__s"), " ")
            pairs = words.select(
                F.col("__cnt"),
                F.explode(
                    F.zip_with(
                        F.slice(syms, 1, F.size(syms) - 1),
                        F.slice(syms, 2, F.size(syms) - 1),
                        lambda a, b: F.concat_ws(" ", a, b),
                    )
                ).alias("__pair"),
            )
            top = (
                pairs.groupBy("__pair")
                .agg(F.sum("__cnt").alias("__n"))
                .orderBy(F.desc("__n"), F.asc("__pair"))
                .limit(merges_per_round * 3)
                .collect()
            )
            if not top:
                break
            # batch only non-interacting pairs: no symbol shared with an
            # already-picked pair this round (keeps one regex pass exact)
            picked: List[Tuple[str, str]] = []
            used: set = set()
            for row in top:
                if (
                    len(picked) >= merges_per_round
                    or len(merges) + len(picked) >= num_merges
                ):
                    break
                a, b = row["__pair"].split(" ")
                if a in used or b in used or (a + b) in used:
                    continue
                picked.append((a, b))
                used.update((a, b, a + b))
            if not picked:
                break
            col = F.col("__s")
            for a, b in picked:
                pat = (
                    "(^|(?<= ))"
                    + re.escape(a)
                    + " "
                    + re.escape(b)
                    + "((?= )|$)"
                )
                col = F.regexp_replace(col, pat, re.sub(r"([$\\])", r"\\\1", a + b))
            # lazy truncation: the NEXT round's pair-count job (or the
            # final release) materializes the checkpoint — one job per
            # round instead of two (30-round canonical training halves)
            nxt = iter_materialize(
                words.select(col.alias("__s"), "__cnt"), eager=False
            )
            release(words)  # previous round's cache handle, if any
            words = nxt
            merges.extend(picked)
    finally:
        release(words)  # the merge list lives on the driver now
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank INT, left STRING, right STRING, merged STRING",
    )


def _merge_list(merges: DataFrame) -> List[Tuple[str, str]]:
    """The merge table's ``(left, right)`` pairs in rank order, NULL ranks
    first as in Spark's ascending sort. One collect, sorted on the driver:
    the table is vocabulary-sized, and ``orderBy`` would spend a
    range-partition sample and a shuffle on it."""
    rows = merges.select("rank", "left", "right").collect()
    rows.sort(key=lambda r: (r["rank"] is not None, r["rank"]))
    return [(r["left"], r["right"]) for r in rows]


@register("bpe_encode")
def bpe_encode(
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    output_col: str = "bpe_tokens",
    lowercase: bool = False,
    pretokenizer: str = "whitespace",
) -> TransformerFn:
    """Tokenize the corpus with a trained merge table: adds ``output_col``
    (array of subword pieces, word-order preserved) and
    ``<output_col>_n``. ``merges`` is the ``bpe_train`` output, collected
    to the driver in one job and rank-sorted there (:func:`_merge_list` —
    vocabulary-sized). Reassembly is keyed on ``id_col``,
    which must be UNIQUE per row (duplicate ids would interleave their
    token streams); token-less documents survive with an empty array.

    Corpus cost: one distinct-word pass, an encode over the DISTINCT
    words only, the size-tiered dictionary attach of
    :func:`_dictionary_encode`, and JVM-side per-document reassembly —
    Python never sees corpus-scale data. The dictionary is *distinct
    word types*, which on 100 TB of web text (typos, URLs, code) can
    reach 10⁸–10⁹ rows, so above ``driver_tier.BROADCAST_MAX_ROWS`` words
    the encode join runs as a shuffle join on ``__w`` instead of a broadcast.
    """

    def _make():
        mlist = _merge_list(merges)
        return lambda w: apply_merges_py(w, mlist)

    return _dictionary_encode(
        _make, text_col, id_col, output_col, lowercase, pretokenizer
    )


register_with("bpe_encode_with", bpe_encode, "merges_id", "merges")


# Dictionary-attach tier bounds (rows of DISTINCT words). Under
# ``_LITERAL_MAP_THRESHOLD_ROWS`` the word→pieces table becomes a literal
# ``create_map`` looked up inside a pure projection — zero joins, zero
# shuffles, zero Python stages for the whole encode (the r14 measurement:
# the broadcast-exchange build of a 61-row dictionary plus the reassembly
# shuffle cost ~1.5 s/query of pure overhead at sf0.1). Under
# ``_DRIVER_ENCODE_THRESHOLD_ROWS`` the pieces are computed on the DRIVER
# (the merge list already lives there) and broadcast as plain rows — no
# ArrowEvalPython inside a BroadcastExchange, no probe materialization,
# no count job. Above it the pandas-encoded dictionary is broadcast while
# :func:`driver_tier.fits_broadcast` passes; beyond that the join shuffles
# on ``__w``. All three are dictionary-sized gates, corpus-size independent.
_LITERAL_MAP_THRESHOLD_ROWS = 256
_DRIVER_ENCODE_THRESHOLD_ROWS = 200_000
_PIECES = "array<string>"


def _dictionary_encode(
    make_word_encoder,
    text_col: str,
    id_col: str,
    output_col: str,
    lowercase: bool,
    pretokenizer: str = "whitespace",
    scored: bool = False,
) -> TransformerFn:
    """The distinct-word dictionary-encode plan behind the four encoders:
    :func:`bpe_encode` (``apply_merges_py``), :func:`bpe_byte_encode`
    (``apply_merges_byte_py``), :func:`wordpiece_encode` (greedy longest
    match) and :func:`unigram_encode` (Viterbi). One distinct-word pass,
    pieces computed over DISTINCT words only, the size-tiered dictionary
    attach, JVM per-document reassembly. ``make_word_encoder`` is called
    once per application (collecting the merge table / vocabulary to the
    driver) and returns ``word -> pieces``, or ``word -> (pieces,
    score)`` when ``scored``; a scored plan carries the word score as
    ``__score`` and adds ``<output_col>_score_s``, its per-document sum.
    The encoder also rides the pandas closure in tiers 3/4.

    Attach tiers by distinct-word count:

    1. ≤ ``_LITERAL_MAP_THRESHOLD_ROWS``: literal-map projection (scores
       in a second map, summed by ``aggregate``) — no join, no
       reassembly shuffle, no Python stage.
    2. ≤ ``_DRIVER_ENCODE_THRESHOLD_ROWS``: driver-encoded rows,
       broadcast join + per-doc reassembly.
    3. ≤ ``driver_tier.BROADCAST_MAX_ROWS``: distributed pandas encode,
       broadcast join.
    4. else: distributed pandas encode, shuffle join on ``__w``.

    Tiers 3/4 size the dictionary with one count over the
    ``probe_materialize``d distinct words, which leaves no cache entry
    behind. Every tier yields the same rows.
    """
    names = ["__pieces", "__score"] if scored else ["__pieces"]
    fields = "__pieces array<string>" + (", __score long" if scored else "")

    def _finish(frame: DataFrame, pieces, score) -> DataFrame:
        out = frame.withColumn(
            output_col, F.coalesce(pieces, F.array().cast(_PIECES))
        ).withColumn(f"{output_col}_n", F.size(output_col).cast("int"))
        if scored:
            out = out.withColumn(
                f"{output_col}_score_s",
                F.coalesce(score, F.lit(0)).cast("long"),
            )
        return out.drop("__words", "__assembled", "__sc")

    def _encode(df: DataFrame) -> DataFrame:
        word_encoder = make_word_encoder()

        def record(w):
            enc = word_encoder(w)
            return (w, *enc) if scored else (w, enc)

        src = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
        with_words = df.withColumn("__words", _pretokens(src, pretokenizer))
        distinct_words = with_words.select(
            F.explode("__words").alias("__w")
        ).distinct()

        head = bounded_collect(distinct_words, _DRIVER_ENCODE_THRESHOLD_ROWS)
        if head is not None:
            head = [record(r["__w"]) for r in head]

        if head is not None and len(head) <= _LITERAL_MAP_THRESHOLD_ROWS:
            # tier 1: literal-map attach. try_element_at (not element_at)
            # so ANSI mode cannot raise on a key the map must contain by
            # construction; pretokenizers on NULL text yield a NULL array,
            # which flatten/aggregate propagate and _finish restores to
            # []/0. An empty corpus has no words anywhere.
            pieces = score = F.lit(None)
            if head:
                lookup = F.create_map(
                    *[
                        c
                        for r in head
                        for c in (
                            F.lit(r[0]),
                            F.array(*[F.lit(p) for p in r[1]]).cast(_PIECES),
                        )
                    ]
                )
                pieces = F.flatten(
                    F.transform(
                        F.col("__words"), lambda w: F.try_element_at(lookup, w)
                    )
                )
                if scored:
                    scores = F.create_map(
                        *[
                            c
                            for r in head
                            for c in (F.lit(r[0]), F.lit(r[2]).cast("long"))
                        ]
                    )
                    score = F.aggregate(
                        F.col("__words"),
                        F.lit(0).cast("long"),
                        lambda acc, w: acc + F.try_element_at(scores, w),
                    )
            return _finish(with_words, pieces, score)

        if head is not None:
            # tier 2: driver-encoded dictionary rows, broadcast join
            dictionary = F.broadcast(
                df.sparkSession.createDataFrame(head, "__w string, " + fields)
            )
        else:
            # tiers 3/4: distributed pandas encode over DISTINCT words
            def _enc_fn(words):
                return pd.DataFrame(
                    [record(w)[1:] for w in words], columns=names
                )

            enc = F.pandas_udf(_enc_fn, f"struct<{fields}>")(F.col("__w"))
            words = probe_materialize(distinct_words)
            dictionary = words.select("__w", *[enc[n].alias(n) for n in names])
            if fits_broadcast(words):
                dictionary = F.broadcast(dictionary)
        exploded = with_words.select(
            F.col(id_col).alias("__id"),
            F.posexplode("__words").alias("__p", "__w"),
        )
        sums = [F.sum("__score").alias("__sc")] if scored else []
        assembled = (
            exploded.join(dictionary, "__w")
            .groupBy("__id")
            .agg(
                F.flatten(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("__p", "__pieces"))),
                        lambda s: s["__pieces"],
                    )
                ).alias("__assembled"),
                *sums,
            )
        )
        # left join back so token-less docs keep a row (empty array)
        joined = df.join(assembled, df[id_col] == assembled["__id"], "left")
        return _finish(joined.drop("__id"), F.col("__assembled"), F.col("__sc"))

    return _encode


@register("bpe_byte_train")
def bpe_byte_train(
    text_col: str = "text",
    num_merges: int = 100,
    merges_per_round: int = 1,
    lowercase: bool = False,
    pretokenizer: str = "whitespace",
) -> TransformerFn:
    """Learn a BYTE-level BPE merge table (the GPT-2 training scheme):
    pretokens (whitespace or the GPT-2 regex split) map to their UTF-8
    byte symbols through the public bytes→unicode bijection — no
    ``</w>`` marker, the pretokenizer split IS the boundary — then the
    same canonical merge loop as :func:`bpe_train`. With
    ``pretokenizer="gpt2"`` this is end-to-end GPT-2 tokenizer training;
    feed the result to ``bpe_byte_encode(pretokenizer="gpt2")``.

    Scale posture is :func:`bpe_train`'s: ONE corpus pass builds the
    (distinct pretoken, count) table; the byte-symbol mapping runs as an
    Arrow-batched pandas pass over that vocabulary-sized table only
    (same cost class as the encoder's distinct-word UDF — Python never
    sees corpus-scale data); every merge round is JVM pair-explode +
    map-side-combined count + chained regexp_replace. No marker-collision
    caveat: byte symbols are single BMP chars, a corpus word can never
    spell one. Iterative by nature; pinned against the pure-Python
    reference trainer in tests and SQL-oracled via unrolled rounds
    (dp162), the dp69 convention."""
    if num_merges < 1:
        raise ValueError(
            f"bpe_byte_train: num_merges must be >= 1, got {num_merges}"
        )
    if merges_per_round < 1:
        raise ValueError(
            f"bpe_byte_train: merges_per_round must be >= 1, "
            f"got {merges_per_round}"
        )
    _pretokens(F.lit(""), pretokenizer)  # validate the name eagerly

    def _train(df: DataFrame) -> DataFrame:
        spark = df.sparkSession

        def _sym_fn(ws):
            return ws.map(lambda w: " ".join(byte_symbols(w)))

        _sym = F.pandas_udf(_sym_fn, "string")
        src = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
        counts = (
            df.select(F.explode(_pretokens(src, pretokenizer)).alias("__w"))
            .groupBy("__w")
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        words = iter_materialize(counts.select(_sym("__w").alias("__s"), "__cnt"))
        return _train_merge_loop(spark, words, num_merges, merges_per_round)

    return _train


def wordpiece_py(
    word: str,
    vocab: set,
    cont_prefix: str = "##",
    unk_token: str = "[UNK]",
    max_word_len: int = 100,
) -> List[str]:
    """Greedy longest-match-first WordPiece segmentation of one word
    (the BERT tokenizer's WordpieceTokenizer, Devlin et al. 2018): from
    each position take the LONGEST vocab piece (continuation positions
    prefixed ``##``); any position with no match makes the whole word
    ``unk_token``, as does a word over ``max_word_len`` chars."""
    if not word or len(word) > max_word_len:
        return [unk_token]
    pieces: List[str] = []
    pos, n = 0, len(word)
    while pos < n:
        end = n
        found = None
        while end > pos:
            piece = word[pos:end]
            if pos > 0:
                piece = cont_prefix + piece
            if piece in vocab:
                found = piece
                break
            end -= 1
        if found is None:
            return [unk_token]
        pieces.append(found)
        pos = end
    return pieces


@register("wordpiece_encode")
def wordpiece_encode(
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    output_col: str = "wp_tokens",
    cont_prefix: str = "##",
    unk_token: str = "[UNK]",
    max_word_len: int = 100,
    lowercase: bool = False,
) -> TransformerFn:
    """Tokenize the corpus with a fixed WordPiece vocabulary (the BERT
    family's greedy longest-match-first subword scheme — the other
    mainstream tokenizer next to ``bpe_encode``'s merge-rank scan).
    ``vocab`` is one ``piece`` string column: word-initial pieces plain,
    continuation pieces carrying ``cont_prefix``. Adds ``output_col``
    (array of pieces, word order preserved) and ``<output_col>_n``;
    un-segmentable or over-long words become ``unk_token``. ``id_col``
    must be unique per row (the ``bpe_encode`` reassembly contract).

    Same production plan as ``bpe_encode`` (:func:`_dictionary_encode`;
    the vocab set rides the encoder closure — vocabulary-sized): Python
    never sees corpus-scale data. The greedy scan is a pure
    per-position function, so a SQL oracle replays it exactly
    (longest-match table + deterministic walk).
    """

    def _make():
        piece_col = vocab.columns[0]
        vset = {r[piece_col] for r in vocab.select(piece_col).collect()}
        return lambda w: wordpiece_py(
            w, vset, cont_prefix, unk_token, max_word_len
        )

    return _dictionary_encode(_make, text_col, id_col, output_col, lowercase)


register_with("wordpiece_encode_with", wordpiece_encode, "vocab_id", "vocab")


SEP = "\x01"  # path separator: sorts below every token character, so
# joined-path string order == piece-tuple lexicographic order (the
# property both the Python DP and the SQL oracle's tie-break rely on)


def unigram_viterbi_py(
    word: str,
    vocab: dict,
    max_piece_len: int,
    unk_token: str = "[UNK]",
    unk_logp_s: int = -100_000,
    max_word_len: int = 100,
):
    """Viterbi segmentation of one word under a fixed unigram LM (the
    SentencePiece unigram scheme, Kudo 2018): maximize the sum of piece
    scores; deterministic tie-break (max score, then fewest pieces, then
    lexicographically smallest SEP-joined path — identical to the SQL
    oracle's ORDER BY). Unsegmentable or over-long words collapse to
    ``(unk_token, unk_logp_s)``. Returns (pieces, score_s)."""
    if not word or len(word) > max_word_len:
        return [unk_token], unk_logp_s
    n = len(word)
    # best[i]: (neg_score, n_pieces, path_str) — tuple order IS the rule
    best: list = [None] * (n + 1)
    best[0] = (0, 0, "")
    for i in range(1, n + 1):
        cand = None
        for j in range(max(0, i - max_piece_len), i):
            prev = best[j]
            if prev is None:
                continue
            lp = vocab.get(word[j:i])
            if lp is None:
                continue
            path = word[j:i] if not prev[2] else prev[2] + SEP + word[j:i]
            key = (prev[0] - lp, prev[1] + 1, path)
            if cand is None or key < cand:
                cand = key
        best[i] = cand
    if best[n] is None:
        return [unk_token], unk_logp_s
    return best[n][2].split(SEP), -best[n][0]


@register("unigram_encode")
def unigram_encode(
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    output_col: str = "ug_tokens",
    unk_token: str = "[UNK]",
    unk_logp_s: int = -100_000,
    max_word_len: int = 100,
    lowercase: bool = False,
) -> TransformerFn:
    """Tokenize the corpus with a fixed unigram language model — the
    SentencePiece scheme (Kudo 2018) used by the LLaMA/T5 tokenizer
    family, completing the trio next to ``bpe_encode`` (merge ranks) and
    ``wordpiece_encode`` (greedy longest match). ``vocab`` carries two
    columns: ``piece`` (string) and ``logp_s`` (INTEGER scaled log-prob,
    caller's grid — exact arithmetic end to end, no floats anywhere).
    Each word takes the Viterbi-optimal segmentation (max total score;
    ties → fewest pieces, then lexicographically smallest path), so the
    encoding is deterministic and an external SQL engine can replay it
    by exhaustive path enumeration on bounded words. Adds ``output_col``
    (pieces, word order preserved), ``<output_col>_n``, and
    ``<output_col>_score_s`` (exact summed piece scores; UNK words
    contribute ``unk_logp_s``); token-less and NULL-text documents get
    ``[]``/0/0.

    Same production plan as the other encoders (:func:`_dictionary_encode`,
    scored; the vocab dict rides the encoder closure) — Python never
    touches corpus-scale data, and the DP is O(len · max_piece_len) per
    distinct word.
    """

    def _make():
        cols = vocab.columns
        rows = vocab.select(cols[0], cols[1]).collect()
        vmap = {r[0]: int(r[1]) for r in rows}
        # empty vocab: every word is unsegmentable -> unk_token (the
        # wordpiece_encode degenerate contract, not an error)
        max_piece = max((len(p) for p in vmap), default=1)

        def _viterbi(w):
            pieces, score = unigram_viterbi_py(
                w, vmap, max_piece, unk_token, unk_logp_s, max_word_len
            )
            return pieces, int(score)

        return _viterbi

    return _dictionary_encode(
        _make, text_col, id_col, output_col, lowercase, scored=True
    )


register_with("unigram_encode_with", unigram_encode, "vocab_id", "vocab")


def bytes_to_unicode_table() -> dict:
    """The GPT-2 byte→unicode map (Radford et al. 2019, public
    ``encoder.py``): printable latin-1 bytes map to themselves; the
    remaining 68 bytes shift to 256+n — a BIJECTION from bytes onto 256
    distinct printable BMP characters, so any byte sequence becomes a
    plain string the merge machinery (and a SQL oracle) can scan."""
    bs = (
        list(range(33, 127)) + list(range(161, 173)) + list(range(174, 256))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return {b: chr(c) for b, c in zip(bs, cs)}


_B2U = bytes_to_unicode_table()


def byte_symbols(word: str) -> str:
    """UTF-8 bytes of ``word`` mapped through the GPT-2 table — the
    symbol string byte-level merges operate on."""
    return "".join(_B2U[b] for b in word.encode("utf-8"))


def apply_merges_byte_py(word: str, merges: List[Tuple[str, str]]) -> List[str]:
    """Reference byte-level encoder: map to byte symbols, then the same
    left-to-right non-overlapping merge scan as :func:`apply_merges_py`
    — WITHOUT the ``</w>`` marker (byte-level's word boundary is the
    pretokenizer split itself, the GPT-2 convention)."""
    syms = list(byte_symbols(word))
    for a, b in merges:
        i, out = 0, []
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


@register("bpe_byte_encode")
def bpe_byte_encode(
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    output_col: str = "bpe_tokens",
    lowercase: bool = False,
    pretokenizer: str = "whitespace",
) -> TransformerFn:
    """BYTE-level BPE encode (the GPT-2 scheme): every word is first
    mapped to its UTF-8 bytes through the public bytes→unicode bijection,
    then merged with the trained table — so EVERY string is encodable
    (no ``[UNK]`` exists; an unseen emoji just stays as its byte
    symbols), the property modern tokenizers buy with byte fallback.
    ``merges`` rows are ``(rank, left, right, merged)`` over the
    byte-symbol alphabet (ASCII letters map to themselves, so common
    merges look like ``("t","h")``; a multibyte character contributes
    one symbol per byte).

    Same production plan as :func:`bpe_encode` (whose word-level
    contract and :func:`_dictionary_encode` attach tiers this op shares
    verbatim) — Python never touches corpus-scale data. Differences: no ``</w>`` marker
    (byte-level's boundary is the pretokenizer split itself), and the
    dictionary's pieces are byte symbols.

    ``pretokenizer``: ``"whitespace"`` (default, the engine's historical
    boundary) or ``"gpt2"`` — the standard contraction/letter/digit/
    punct split of the public GPT-2 encoder (see
    :data:`GPT2_SPLIT_PATTERN`), under which tokens keep their leading
    space so fertility numbers match production byte-level tokenizers.
    The "distinct word" dictionary then holds distinct PRETOKENS
    (``" the"`` and ``"the"`` are separate entries — roughly 2× word
    types, same corpus-scale posture).
    """

    def _make():
        mlist = _merge_list(merges)
        return lambda w: apply_merges_byte_py(w, mlist)

    return _dictionary_encode(
        _make, text_col, id_col, output_col, lowercase, pretokenizer
    )
