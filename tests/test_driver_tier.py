"""The driver-tier module (datapipes/driver_tier.py) and the operators
behind its gates, the broadcast gate included: each operator must return
the same rows on both sides of its gate."""

from __future__ import annotations

import logging
import random
import uuid

import pytest
from pyspark.sql import functions as F

from lakehouse_engine_spark.core.definitions import TransformerSpec
from lakehouse_engine_spark.datapipes import (
    bpe,
    clustering,
    dedup,
    driver_tier,
    graph,
    text,
)
from lakehouse_engine_spark.datapipes.driver_tier import (
    bounded_collect,
    driver_safe_ids,
    fits_broadcast,
    min_labels,
)
from lakehouse_engine_spark.transformers.transformer_factory import TransformerFactory


def t(name, **args):
    return TransformerFactory.get_transformer(TransformerSpec(name, args))


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs it fired)."""
    sc = spark.sparkContext
    group = f"driver-tier-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# ----- bounded_collect / driver_safe_ids / min_labels -----------------------


@pytest.mark.parametrize("limit", [0, -1])
def test_bounded_collect_off_fires_no_job(spark, limit):
    df = spark.range(10)
    rows, jobs = _jobs(spark, lambda: bounded_collect(df, limit))
    assert rows is None
    assert jobs == 0


def test_bounded_collect_boundary(spark):
    df = spark.range(5)
    assert sorted(r.id for r in bounded_collect(df, 5)) == [0, 1, 2, 3, 4]
    assert bounded_collect(df, 4) is None
    assert bounded_collect(spark.range(0), 1) == []


def test_driver_safe_ids():
    from pyspark.sql import Row

    assert driver_safe_ids([Row(a=1, b="x"), Row(a=None, b="y")], "a", "b")
    assert not driver_safe_ids([Row(a=None)], "a", allow_null=False)
    assert not driver_safe_ids([Row(a=True)], "a")
    assert not driver_safe_ids([Row(a=1.0)], "a")
    # only the named columns are checked
    assert driver_safe_ids([Row(a=1, b=2.5)], "a")


def test_min_labels():
    chain = [(i + 1, i) for i in range(5, 0, -1)]
    assert min_labels(chain) == {i: 1 for i in range(1, 7)}
    star = [(i, 9) for i in range(10, 15)] + [(4, 3)]
    assert min_labels(star) == {**{i: 9 for i in range(9, 15)}, 3: 3, 4: 3}
    loops = [(7, 7), (2, 2), (2, 8)]
    assert min_labels(loops) == {7: 7, 2: 2, 8: 2}
    assert min_labels([("b", "c"), ("a", "c")]) == {"a": "a", "b": "a", "c": "a"}
    assert min_labels([]) == {}


# ----- tier parity ------------------------------------------------------------


@pytest.fixture()
def both_tiers(monkeypatch):
    """Run ``fn`` over ``frame`` with ``module.<gate>`` at its default and
    then at 0; return the two sorted row lists. Asserts the first run
    took the driver tier and the second the distributed loop. The
    broadcast gate (``gate="BROADCAST_MAX_ROWS"``) lives in
    ``driver_tier``; its ``module`` is the operator's, where the spy
    records each ``fits_broadcast`` choice."""

    def run(frame, fn, module, gate):
        took = []

        def spy(df, limit):
            rows = driver_tier.bounded_collect(df, limit)
            took.append(rows is not None)
            return rows

        def spy_broadcast(df):
            fits = driver_tier.fits_broadcast(df)
            took.append(fits)
            return fits

        home = module
        if gate == "BROADCAST_MAX_ROWS":
            home = driver_tier
            monkeypatch.setattr(module, "fits_broadcast", spy_broadcast)
        else:
            monkeypatch.setattr(module, "bounded_collect", spy)
        out = []
        for limit in (getattr(home, gate), 0):
            monkeypatch.setattr(home, gate, limit)
            took.clear()
            out.append(sorted(tuple(r) for r in frame.transform(fn).collect()))
            assert took == [limit > 0]
        return out

    return run


def _graphs(spark, ids):
    if ids == "mixed_width":
        # dst wider than src: the label type must be the coerced one
        return [spark.createDataFrame([(1, 3_000_000_000), (2, 1)], "src INT, dst BIGINT")]
    rng = random.Random(5)
    edges = [
        [(0, i) for i in range(1, 40)]
        + [(i, i + 1) for i in range(30, 50)]
        + [(50, 50), (7, 7)],
        [(i, i + 1) for i in range(99)],
        [(rng.randrange(60), rng.randrange(60)) for _ in range(150)],
    ]
    frames = [spark.createDataFrame(e, "src LONG, dst LONG") for e in edges]
    if ids == "string":
        frames = [
            f.selectExpr("concat('n', src) AS src", "concat('n', dst) AS dst")
            for f in frames
        ]
    return frames


def _docs(spark, ids):
    docs = spark.createDataFrame(
        [
            (i, f"shared near duplicate body text number {i % 4} plus words")
            for i in range(40)
        ],
        "doc_id LONG, text STRING",
    )
    if ids == "string":
        docs = docs.selectExpr("concat('id_', doc_id) AS doc_id", "text")
    return docs


def _vectors(spark, ids):
    """Null vectors and null elements ride along, routed per the
    usable-sample contract."""
    rng = random.Random(7)
    rows = []
    for i in range(300):
        if i % 37 == 0:
            v = None
        elif i % 53 == 0:
            v = [rng.uniform(-1, 1) if j != 2 else None for j in range(6)]
        else:
            v = [rng.uniform(-1, 1) for j in range(6)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    if ids == "string":
        df = df.select(
            F.concat(F.lit("id_"), F.col("vec_id")).alias("vec_id"), "embedding"
        )
    return df


# tie-rich: equal pair counts are decided by the pair-string tie-break
_BPE_TEXT = (
    "ab ab ba ba cd cd dc dc abab baba low lower lowest "
    "aa aa aa bb bb bb ab ba"
)


def _parity_case(spark, op, ids):
    """(module, gate constant, [(frame, transformer)]) of one case."""
    if op.startswith("graph_"):
        kw = {"iterations": 4} if op == "graph_pagerank" else {}
        fns = [(f, t(op, **kw)) for f in _graphs(spark, ids)]
        return graph, "GRAPH_DRIVER_MAX_EDGES", fns
    if op == "dedup_connected_components":
        frame = _docs(spark, ids)
        keeps = [
            dict(keep="clusters"),
            dict(keep="survivors"),
            dict(keep="best", best_by="length(text)"),
        ]
        fns = [
            (frame, t(op, num_hashes=12, bands=4, shingle_size=3, **kw))
            for kw in keeps
        ]
        return dedup, "DEDUP_CC_DRIVER_MAX_EDGES", fns
    if op == "embedding_kmeans":
        fn = t(op, k=5, iterations=2)
        return clustering, "DRIVER_KMEANS_MAX_ELEMS", [(_vectors(spark, ids), fn)]
    if op == "embedding_kmeans_hier":
        fn = t(op, k_coarse=3, k_fine=3, coarse_iterations=2, fine_iterations=2)
        return clustering, "DRIVER_KMEANS_MAX_ELEMS", [(_vectors(spark, ids), fn)]
    if op in ("text_word_pmi", "text_tfidf_top_terms"):
        frame = spark.createDataFrame(
            [
                (i, f"alpha beta gamma{i % 3} delta word{i % 7} alpha beta")
                for i in range(40)
            ],
            "doc_id LONG, text STRING",
        )
        kw = {"k": 50, "min_count": 2} if op == "text_word_pmi" else {"k": 3}
        return text, "BROADCAST_MAX_ROWS", [(frame, t(op, **kw))]
    frame = spark.createDataFrame([(1, _BPE_TEXT)], "doc_id LONG, text STRING")
    if op == "bpe_train":
        fns = [(frame, t(op, num_merges=10, merges_per_round=m)) for m in (1, 3)]
    else:  # gpt2 pretokens carry space-bearing byte symbols
        fns = [(frame, t(op, num_merges=6, pretokenizer="gpt2"))]
    return bpe, "DRIVER_TRAIN_THRESHOLD_ROWS", fns


_PARITY = [
    pytest.param(op, ids, id=f"{op}-{ids}")
    for op, id_kinds in [
        ("graph_connected_components", ["long", "string", "mixed_width"]),
        ("graph_pagerank", ["long", "string", "mixed_width"]),
        ("dedup_connected_components", ["long", "string"]),
        ("embedding_kmeans", ["long", "string"]),
        ("embedding_kmeans_hier", ["long", "string"]),
    ]
    for ids in id_kinds
] + [
    pytest.param("bpe_train", None, id="bpe_train"),
    pytest.param("bpe_byte_train", None, id="bpe_byte_train"),
    pytest.param("text_word_pmi", None, id="text_word_pmi"),
    pytest.param("text_tfidf_top_terms", None, id="text_tfidf_top_terms"),
]


@pytest.mark.parametrize("op, ids", _PARITY)
def test_driver_tier_parity(spark, both_tiers, op, ids):
    module, gate, fns = _parity_case(spark, op, ids)
    for frame, fn in fns:
        driver, distributed = both_tiers(frame, fn, module, gate)
        assert driver == distributed
    if op == "graph_connected_components" and ids == "mixed_width":
        assert driver == [(1, 1), (2, 1), (3_000_000_000, 1)]



@pytest.mark.parametrize("ids", ["long", "string"])
def test_kmeans_hier_level_one_is_the_flat_trainer(spark, both_tiers, monkeypatch, ids):
    """embedding_kmeans_hier's coarse level is embedding_kmeans on
    (k_coarse, coarse_iterations): the same cluster for every row, on
    each tier."""
    frame = _vectors(spark, ids)
    gate = "DRIVER_KMEANS_MAX_ELEMS"
    default = getattr(clustering, gate)
    fns = [
        t("embedding_kmeans", k=3, iterations=2),
        t("embedding_kmeans_hier", k_coarse=3, k_fine=2, coarse_iterations=2,
          fine_iterations=1),
    ]
    runs = []
    for fn in fns:
        monkeypatch.setattr(clustering, gate, default)  # both_tiers leaves 0
        runs.append(both_tiers(frame, fn, clustering, gate))
    for flat, hier in zip(*runs):  # driver tier, then distributed
        assert [(r[0], r[2]) for r in flat] == [(r[0], r[2]) for r in hier]
        assert len({r[2] for r in flat}) == 3


# ----- broadcast gate -----------------------------------------------------------


def test_fits_broadcast_boundary(spark, monkeypatch):
    df = spark.range(3)
    assert fits_broadcast(df)
    monkeypatch.setattr(driver_tier, "BROADCAST_MAX_ROWS", 3)
    assert fits_broadcast(df)
    monkeypatch.setattr(driver_tier, "BROADCAST_MAX_ROWS", 2)
    assert not fits_broadcast(df)


# ----- per-operator drift fixes -----------------------------------------------


def test_cc_edge_distinct_scanned_once_above_gate(spark, monkeypatch):
    """Above the gate the driver-tier probe reads the materialized edge
    set: building the components scans the input once."""
    acc = spark.sparkContext.accumulator(0)

    def count(e):
        acc.add(1)
        return e

    edges = [(i, i + 1) for i in range(50)]
    rdd = spark.sparkContext.parallelize(edges, 2).map(count)
    df = spark.createDataFrame(rdd, "src LONG, dst LONG")
    monkeypatch.setattr(graph, "GRAPH_DRIVER_MAX_EDGES", 5)
    out, jobs = _jobs(spark, lambda: df.transform(t("graph_connected_components")))
    assert jobs > 0  # the distributed loop ran at build time
    assert acc.value == len(edges)
    assert {r["component"] for r in out.collect()} == {0}


def test_dedup_cc_unconverged_warns(spark, monkeypatch, caplog):
    """A 3-hop bucket chain (each doc shares a bucket only with its
    neighbours) at max_iterations=1: the driver tier returns the full
    closure; the distributed loop stops short and says so."""
    words = [f"w{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [(k, " ".join(words[k * 6 : k * 6 + 12])) for k in range(4)],
        "doc_id LONG, text STRING",
    )
    fn = t(
        "dedup_connected_components",
        num_hashes=12,
        bands=12,
        shingle_size=3,
        max_iterations=1,
    )
    labels = {r["doc_id"]: r["component_id"] for r in docs.transform(fn).collect()}
    assert labels == {0: 0, 1: 0, 2: 0, 3: 0}
    monkeypatch.setattr(dedup, "DEDUP_CC_DRIVER_MAX_EDGES", 0)
    with caplog.at_level(logging.WARNING, logger=dedup.__name__):
        labels = {
            r["doc_id"]: r["component_id"] for r in docs.transform(fn).collect()
        }
    assert labels != {0: 0, 1: 0, 2: 0, 3: 0}
    warned = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
    assert any(
        "dedup_connected_components" in m and "max_iterations=1" in m
        for m in warned
    )
