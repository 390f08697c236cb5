"""Training-data pipeline operators: dedup (exact/minhash/simhash/jaccard/
embedding), ANN search (brute/LSH/IVF), text analysis, multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from lakehouse_engine_spark.core.definitions import TransformerSpec
from lakehouse_engine_spark.transformers.transformer_factory import TransformerFactory


def t(name, **args):
    return TransformerFactory.get_transformer(TransformerSpec(name, args))


@pytest.fixture()
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods"
    near = base.replace("runs far", "sprints far")  # high jaccard overlap
    other = "completely different content about databases and distributed query engines at scale"
    return spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, other), (4, "  The  QUICK brown fox jumps over the lazy dog and runs far away into the woods ")],
        "doc_id INT, text STRING",
    )


@pytest.fixture()
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")


# ----------------------------------------------------------------- dedup
def test_dedup_exact_normalized(docs):
    out = docs.transform(t("dedup_exact", key_cols=["text"], id_col="doc_id", normalize=True))
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [0, 2, 3]  # 1 exact dup, 4 whitespace/case dup


def test_dedup_minhash_collapses_near_dups(docs):
    out = docs.transform(t("dedup_minhash_lsh", text_col="text", id_col="doc_id",
                           num_hashes=12, bands=6, shingle_size=2))
    ids = sorted(r["doc_id"] for r in out.collect())
    assert 0 in ids and 3 in ids
    assert 1 not in ids  # identical text always collides


def test_dedup_minhash_flagged_mode(docs):
    out = docs.transform(
        t("dedup_minhash_lsh", text_col="text", id_col="doc_id", keep="flagged",
          num_hashes=12, bands=6, shingle_size=2)
    )
    assert {"is_duplicate", "dup_group_id"} <= set(out.columns)
    assert out.count() == docs.count()
    flags = {r["doc_id"]: r["is_duplicate"] for r in out.collect()}
    assert flags[1] is True and flags[3] is False


def test_dedup_ngram_jaccard_verifies_threshold(docs):
    strict = docs.transform(
        t("dedup_ngram_jaccard", shingle_size=3, threshold=0.99, num_hashes=12, bands=12)
    )
    loose = docs.transform(
        t("dedup_ngram_jaccard", shingle_size=3, threshold=0.5, num_hashes=12, bands=12)
    )
    # strict keeps the near-dup (id 2) as distinct; loose collapses it
    assert 2 in {r["doc_id"] for r in strict.collect()}
    assert 2 not in {r["doc_id"] for r in loose.collect()}


def test_dedup_simhash(docs):
    out = docs.transform(t("dedup_simhash", hamming_threshold=3, shingle_size=2))
    ids = sorted(r["doc_id"] for r in out.collect())
    assert 1 not in ids and 0 in ids and 3 in ids


def test_lsh_bucket_cap_drops_degenerate_buckets(spark):
    # boilerplate skew: 300 identical docs would form one mega-bucket whose
    # pair self-join is k^2; with the cap the bucket is dropped (those docs
    # stay un-deduped — exact dedup upstream owns identical text) while
    # normal-sized near-dup clusters still collapse
    boiler = [(i, "license header the same text every time") for i in range(300)]
    # the small cluster is an identical pair: near-dup under BOTH operators
    # (jaccard 1.0, simhash hamming 0) regardless of signature noise
    pair_text = (
        "a unique document about spark partitioning strategies covering "
        "shuffle behavior broadcast joins bucketing and adaptive execution"
    )
    pair = [(1000, pair_text), (1001, pair_text)]
    df = spark.createDataFrame(boiler + pair, "doc_id INT, text STRING")

    capped = df.transform(
        t("dedup_ngram_jaccard", threshold=0.5, num_hashes=12, bands=6,
          max_bucket_size=100)
    )
    ids = {r["doc_id"] for r in capped.collect()}
    assert set(range(300)) <= ids          # mega-bucket dropped, all retained
    assert 1000 in ids and 1001 not in ids  # normal cluster still deduped

    capped_sim = df.transform(
        t("dedup_simhash", hamming_threshold=3, shingle_size=2,
          max_bucket_size=100)
    )
    sim_ids = {r["doc_id"] for r in capped_sim.collect()}
    assert set(range(300)) <= sim_ids
    assert 1000 in sim_ids and 1001 not in sim_ids

    # without a cap the identical docs collapse to their min id
    uncapped = df.transform(
        t("dedup_ngram_jaccard", threshold=0.5, num_hashes=12, bands=6,
          max_bucket_size=None)
    )
    un_ids = {r["doc_id"] for r in uncapped.collect()}
    assert un_ids & set(range(300)) == {0}


def test_dedup_embedding_cosine(vectors):
    out = vectors.transform(t("dedup_embedding_cosine", threshold=0.98))
    ids = sorted(r["vec_id"] for r in out.collect())
    assert ids == [0, 2, 3]


def test_dedup_embedding_cosine_lsh_matches_exact(spark):
    # clustered corpus: LSH candidates must capture the same near-dup pairs
    # the exact method verifies, so survivors agree — the scale path is a
    # drop-in for the all-pairs baseline
    import math

    rows = []
    for c in range(4):  # 4 well-separated directions
        base = [0.0] * 8
        base[c * 2] = 1.0
        for i in range(5):  # 5 tiny perturbations per cluster → near-dups
            v = list(base)
            v[c * 2 + 1] = 0.001 * i
            n = math.sqrt(sum(x * x for x in v))
            rows.append((c * 100 + i, [x / n for x in v]))
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    exact = {
        r["vec_id"]
        for r in df.transform(
            t("dedup_embedding_cosine", threshold=0.999, method="exact")
        ).collect()
    }
    lsh = {
        r["vec_id"]
        for r in df.transform(
            t("dedup_embedding_cosine", threshold=0.999, method="lsh",
              num_planes=8, num_tables=4)
        ).collect()
    }
    assert exact == {0, 100, 200, 300}
    assert lsh == exact


# ------------------------------------------------------------------- ANN
def test_knn_brute_force(vectors):
    out = vectors.transform(t("knn_brute_force", k=2, query_filter="vec_id = 0"))
    rows = sorted([(r["neighbor_id"], r["rank"]) for r in out.collect()], key=lambda x: x[1])
    assert rows[0] == (1, 1)  # nearest neighbor of 0 is its near-dup


def test_knn_lsh_finds_obvious_neighbor(spark):
    # clustered corpus so LSH buckets capture the structure
    rows = [(i, [1.0 + 0.001 * i, 0.0, 0.0, 0.0]) for i in range(10)] + [
        (100 + i, [0.0, 1.0 + 0.001 * i, 0.0, 0.0]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    out = df.transform(t("knn_lsh", k=3, query_filter="vec_id = 0", num_planes=6, num_tables=4, dim=4))
    neighbors = {r["neighbor_id"] for r in out.collect()}
    assert neighbors and neighbors <= set(range(1, 10))  # same-cluster only


def test_knn_ivf(vectors):
    out = vectors.transform(t("knn_ivf", k=1, query_filter="vec_id = 0", num_centroids=2, nprobe=2))
    got = out.collect()
    assert got and got[0]["neighbor_id"] == 1


# ------------------------------------------------------------------ text
def test_text_quality_score(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox jumps over the lazy dog and it is a good day for that."),
         (2, "@@@@ #### $$$$ 1234 !!!!")],
        "doc_id INT, text STRING",
    )
    out = df.transform(t("text_quality_score"))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["quality_score"] > rows[2]["quality_score"]
    assert 0.0 <= rows[2]["quality_score"] <= 1.0
    assert rows[1]["stopword_ratio"] > 0


def test_text_langid(spark):
    df = spark.createDataFrame(
        [(1, "the cat is on the mat and it is warm"),
         (2, "der Hund ist nicht mit der Katze und das ist gut"),
         (3, "le chat est dans la maison et il est content"),
         (4, "xyzzy plugh 12345")],
        "doc_id INT, text STRING",
    )
    out = df.transform(t("text_langid"))
    got = {r["doc_id"]: r["lang_pred"] for r in out.collect()}
    assert got[1] == "en" and got[2] == "de" and got[3] == "fr" and got[4] == "und"


def test_token_count_modes(spark):
    df = spark.createDataFrame([(1, "hello, world! it's nice")], "id INT, text STRING")
    bpe = df.transform(t("text_token_count")).first()["n_tokens"]
    ws = df.transform(t("text_token_count", bpe_ish=False)).first()["n_tokens"]
    assert bpe > ws  # punctuation split into separate tokens


def test_fingerprint_clusters_reordered_text(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha!"), (3, "delta epsilon")],
        "doc_id INT, text STRING",
    )
    out = df.transform(t("text_fingerprint"))
    fps = {r["doc_id"]: r["fingerprint"] for r in out.collect()}
    assert fps[1] == fps[2] != fps[3]


# ------------------------------------------------------------- multimodal
def test_multimodal_pack_and_extract(spark):
    df = spark.createDataFrame([(1, "payload-bytes")], "doc_id INT, text STRING")
    packed = df.transform(t("multimodal_pack", payload_col="text"))
    assert dict(packed.dtypes)["payload"] == "binary"
    assert packed.select("media_meta.media_type").first()[0] == "application/octet-stream"
    out = packed.transform(t("multimodal_feature_extract", id_col="doc_id", feature_dim=4))
    row = out.first()
    assert row["n_bytes"] == len(b"payload-bytes") and len(row["feature"]) == 4


def test_multimodal_feature_extract_strict_raises(spark):
    import py4j.protocol

    df = spark.createDataFrame([(1, bytearray(b"img"))], "doc_id LONG, payload BINARY")
    with pytest.raises(Exception):  # NotImplementedError surfaces as a Py4J error
        df.transform(t("multimodal_feature_extract", mode="strict")).collect()


def test_multimodal_frame_sample_stubbed(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"x" * 1024))], "doc_id LONG, payload BINARY"
    )
    out = df.transform(t("multimodal_frame_sample", every_n_bytes=256, max_frames=3))
    rows = out.collect()
    assert len(rows) == 3  # 1024//256 capped at 3
    assert all(len(r["frame_bytes"]) == 256 for r in rows)


def test_frame_sample_with_injected_extractor_chains_into_image_decode(spark):
    """A registered frame extractor (ffmpeg stand-in) extracts REAL frames
    from video payloads through the same mapInPandas path, and the frames
    chain straight into multimodal_image_decode — the full
    video → frames → pixels pipeline with only the codec injected."""
    import numpy as np

    from lakehouse_engine_spark.datapipes import media_codecs
    from lakehouse_engine_spark.datapipes.media_codecs import encode_ppm

    def fake_mp4_frames(b, max_frames):
        # deterministic: one solid 2x2 PPM per body byte after the 12-byte
        # ftyp box (size + 'ftyp' + brand)
        return [
            encode_ppm(np.full((2, 2, 3), v, np.uint8))
            for v in b[12 : 12 + max_frames]
        ]

    media_codecs.register_frame_extractor("video/mp4", fake_mp4_frames)
    try:
        payload = b"\x00\x00\x00\x18ftypisom" + bytes([10, 20, 30, 40])
        df = spark.createDataFrame([(7, payload)], "doc_id LONG, payload BINARY")
        frames = df.transform(
            t("multimodal_frame_sample", max_frames=3, mode="strict")
        )
        meta = frames.withColumnRenamed("frame_bytes", "payload").transform(
            t("multimodal_image_decode", id_col="frame_idx")
        )
        got = {r["id"]: r for r in meta.collect()}
        assert sorted(got) == [0, 1, 2]  # max_frames honored
        assert all(r["codec"] == "ppm" and r["width"] == 2 for r in got.values())
        assert [int(got[i]["mean_rgb"][0]) for i in range(3)] == [10, 20, 30]
    finally:
        media_codecs.unregister_frame_extractor("video/mp4")

    # registry restored: strict mode raises again for video payloads
    df2 = spark.createDataFrame(
        [(1, b"\x00\x00\x00\x18ftypisomxx")], "doc_id LONG, payload BINARY"
    )
    with pytest.raises(Exception, match="frame extractor"):
        df2.transform(t("multimodal_frame_sample", mode="strict")).collect()


def test_hash_split_deterministic_and_stable(spark, docs):
    from lakehouse_engine_spark.datapipes.sampling import hash_sample, hash_split

    full = docs.transform(hash_split("doc_id"))
    again = docs.transform(hash_split("doc_id"))
    assert full.select("doc_id", "split").exceptAll(
        again.select("doc_id", "split")
    ).count() == 0
    names = {r["split"] for r in full.select("split").distinct().collect()}
    assert names <= {"train", "val", "test"}
    # growth stability: a subset's assignments agree with the full corpus
    sub = docs.limit(50).transform(hash_split("doc_id"))
    joined = sub.select("doc_id", F.col("split").alias("s1")).join(
        full.select("doc_id", F.col("split").alias("s2")), "doc_id"
    )
    assert joined.filter("s1 <> s2").count() == 0

    # sampling: deterministic membership, roughly the asked fraction
    big = spark.range(500).withColumnRenamed("id", "doc_id")
    s = big.transform(hash_sample("doc_id", 0.2, seed="x"))
    s2 = big.transform(hash_sample("doc_id", 0.2, seed="x"))
    assert s.select("doc_id").exceptAll(s2.select("doc_id")).count() == 0
    n, total = s.count(), big.count()
    assert 0.1 <= n / total <= 0.3


def test_hash_split_validation():
    import pytest as _pytest

    from lakehouse_engine_spark.datapipes.sampling import hash_sample, hash_split

    with _pytest.raises(ValueError):
        hash_sample("id", 1.5)
    with _pytest.raises(ValueError):
        hash_split("id", {"a": -1.0})


# ---------------------------------------------------------------- asof join

def test_asof_join_backward_basic(spark):
    from lakehouse_engine_spark.datapipes.joins import asof_join

    left = spark.createDataFrame(
        [("a", 10), ("a", 25), ("b", 5), ("c", 7)], "k STRING, ts INT"
    )
    right = spark.createDataFrame(
        [("a", 8, 1.0), ("a", 20, 2.0), ("b", 6, 3.0)], "k STRING, ts INT, v DOUBLE"
    )
    out = {
        (r["k"], r["ts"]): r["v_matched"]
        for r in left.transform(asof_join(right, on=["k"], left_ts="ts")).collect()
    }
    assert out[("a", 10)] == 1.0      # latest right <= 10 is ts=8
    assert out[("a", 25)] == 2.0      # latest right <= 25 is ts=20
    assert out[("b", 5)] is None      # right ts=6 is in the future
    assert out[("c", 7)] is None      # no right rows for key


def test_asof_join_equal_ts_matches(spark):
    from lakehouse_engine_spark.datapipes.joins import asof_join

    left = spark.createDataFrame([("a", 10)], "k STRING, ts INT")
    right = spark.createDataFrame([("a", 10, 7.0)], "k STRING, ts INT, v DOUBLE")
    row = left.transform(asof_join(right, on=["k"], left_ts="ts")).first()
    assert row["v_matched"] == 7.0    # inclusive backward (r.ts <= l.ts)


def test_asof_join_forward(spark):
    from lakehouse_engine_spark.datapipes.joins import asof_join

    left = spark.createDataFrame([("a", 10), ("a", 30)], "k STRING, ts INT")
    right = spark.createDataFrame(
        [("a", 15, 1.0), ("a", 25, 2.0)], "k STRING, ts INT, v DOUBLE"
    )
    out = {
        (r["k"], r["ts"]): r["v_matched"]
        for r in left.transform(
            asof_join(right, on=["k"], left_ts="ts", direction="forward")
        ).collect()
    }
    assert out[("a", 10)] == 1.0      # earliest right >= 10 is ts=15
    assert out[("a", 30)] is None     # nothing at/after 30


def test_asof_join_tolerance_and_match_ts(spark):
    from pyspark.sql import functions as F
    from lakehouse_engine_spark.datapipes.joins import asof_join

    left = spark.createDataFrame([("a", 100), ("a", 200)], "k STRING, ts INT")
    right = spark.createDataFrame([("a", 95, 1.0)], "k STRING, ts INT, v DOUBLE")
    rows = {
        r["ts"]: (r["v_matched"], r["rts"])
        for r in left.transform(
            asof_join(right, on=["k"], left_ts="ts", tolerance=F.lit(10),
                      ts_match_col="rts")
        ).collect()
    }
    assert rows[100] == (1.0, 95)          # within tolerance
    assert rows[200] == (None, None)       # 105 > 10 → nulled


def test_asof_join_null_right_value_still_matches(spark):
    """A right row whose payload value is NULL must still count as a match
    (the payload travels as a struct, so ignorenulls skips rows, not fields)."""
    from lakehouse_engine_spark.datapipes.joins import asof_join

    left = spark.createDataFrame([("a", 10)], "k STRING, ts INT")
    right = spark.createDataFrame(
        [("a", 3, 5.0), ("a", 8, None)], "k STRING, ts INT, v DOUBLE"
    )
    row = left.transform(
        asof_join(right, on=["k"], left_ts="ts", ts_match_col="rts")
    ).first()
    assert row["rts"] == 8            # ts=8 row matched, not skipped
    assert row["v_matched"] is None   # its value is genuinely null


def test_range_join_basic_and_edges(spark):
    from lakehouse_engine_spark.datapipes.joins import range_join

    left = spark.createDataFrame(
        [("a", 5), ("a", 10), ("a", 20), ("b", 5)], "k STRING, p LONG"
    )
    right = spark.createDataFrame(
        [("a", 5, 10, "w1"), ("a", 15, 30, "w2")], "k STRING, s LONG, e LONG, w STRING"
    )
    out = sorted(
        (r["p"], r["w_r"])
        for r in left.transform(
            range_join(right, on=["k"], left_point="p", right_start="s",
                       right_end="e", bucket_width=4)
        ).collect()
    )
    # inclusive bounds: p=5 and p=10 in w1; p=20 in w2; b has no windows
    assert out == [(5, "w1"), (10, "w1"), (20, "w2")]


def test_range_join_no_duplicate_pairs_across_buckets(spark):
    """A pair overlapping many buckets must appear exactly once."""
    from lakehouse_engine_spark.datapipes.joins import range_join

    left = spark.createDataFrame([("a", 50)], "k STRING, p LONG")
    right = spark.createDataFrame([("a", 0, 100, "big")], "k STRING, s LONG, e LONG, w STRING")
    rows = left.transform(
        range_join(right, on=["k"], left_point="p", right_start="s",
                   right_end="e", bucket_width=7)
    ).collect()
    assert len(rows) == 1


def test_sessionize_batch_gap_semantics(spark):
    from lakehouse_engine_spark.datapipes.joins import sessionize
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        ("u1", t0), ("u1", t0 + 10 * m), ("u1", t0 + 50 * m),  # 2 sessions
        ("u2", t0),                                             # 1 session
    ]
    df = spark.createDataFrame(rows, "user_id STRING, ts TIMESTAMP")
    out = df.transform(
        sessionize(on=["user_id"], ts_col="ts", gap="30 minutes",
                   aggs={"last_ts": "max(ts)"})
    )
    got = {(r["user_id"], r["session_start"]): (r["n_events"], r["session_end"])
           for r in out.collect()}
    assert got[("u1", t0)][0] == 2
    # session end = last event + gap (Spark session_window semantics)
    assert got[("u1", t0)][1] == t0 + 10 * m + 30 * m
    assert got[("u1", t0 + 50 * m)][0] == 1
    assert got[("u2", t0)][0] == 1


def test_sessionize_exact_gap_boundary_merges(spark):
    """An event EXACTLY ``gap`` after its predecessor stays in the same
    session: Spark's session_window extends the session when the new
    event's start <= current end, i.e. only a STRICTLY greater gap breaks
    the session — matching the lag/cumsum oracle's ``diff > gap``. Pinned
    so a Spark behavior change (half-open merge) can't silently diverge
    from the dp18 oracle at larger scale factors where ties occur."""
    from lakehouse_engine_spark.datapipes.joins import sessionize
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    gap = dt.timedelta(minutes=30)
    one_s = dt.timedelta(seconds=1)
    rows = [
        ("tie", t0), ("tie", t0 + gap), ("tie", t0 + 2 * gap),  # chained ties
        ("over", t0), ("over", t0 + gap + one_s),               # gap+1s breaks
    ]
    df = spark.createDataFrame(rows, "user_id STRING, ts TIMESTAMP")
    out = df.transform(sessionize(on=["user_id"], ts_col="ts", gap="30 minutes"))
    got = {(r["user_id"], r["session_start"]): r["n_events"] for r in out.collect()}
    assert got == {
        ("tie", t0): 3,                 # exact-gap events merge transitively
        ("over", t0): 1,
        ("over", t0 + gap + one_s): 1,  # strictly-greater gap splits
    }


def test_sessionize_streaming_with_watermark(spark, tmp_dir):
    """The same operator runs under Structured Streaming: stage events as
    files, readStream + watermark, sessionize, collect via memory sink."""
    import datetime as dt
    import os
    from lakehouse_engine_spark.datapipes.joins import sessionize

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    src = os.path.join(tmp_dir, "stream_in")
    spark.createDataFrame(
        [("u1", t0), ("u1", t0 + 5 * m), ("u1", t0 + 60 * m)],
        "user_id STRING, ts TIMESTAMP",
    ).write.parquet(src)

    stream = (
        spark.readStream.schema("user_id STRING, ts TIMESTAMP")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .transform(sessionize(on=["user_id"], ts_col="ts", gap="30 minutes"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["session_start"]: r["n_events"] for r in spark.table("sess_out").collect()}
    assert got[t0] == 2 and got[t0 + 60 * m] == 1


def test_profile_columns_one_pass(spark):
    from lakehouse_engine_spark.datapipes.profiling import profile_columns

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0), (4, "a", None)],
        "id INT, s STRING, v DOUBLE",
    )
    prof = {r["column"]: r for r in df.transform(
        profile_columns(quantiles=[0.5])
    ).collect()}
    assert prof["id"]["n_rows"] == 4 and prof["id"]["n_nulls"] == 0
    assert prof["s"]["n_nulls"] == 1 and prof["s"]["null_pct"] == 25.0
    assert prof["v"]["n_nulls"] == 1
    assert prof["id"]["mean"] == 2.5
    # approx distinct exact at tiny cardinalities
    assert prof["s"]["approx_distinct"] == 2
    assert prof["v"]["p50"] == 20.0
    assert prof["s"]["mean"] is None and prof["s"]["p50"] is None
    # min/max as strings (lexicographic for non-numeric output contract)
    assert prof["s"]["min_str"] == "a" and prof["s"]["max_str"] == "b"


def test_connected_components_transitive_clusters(spark):
    # identical docs collide deterministically (same signature -> same
    # buckets); the chain 10=11, 11~12 (one appended word) must collapse
    # into ONE component even though 10 and 12 are less similar than
    # either adjacent pair — the transitivity dedup_minhash_lsh lacks.
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    rows = [
        (10, base),
        (11, base),
        (12, base + " nu"),
        (30, "totally unrelated words about storage engines and buffer pools"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    got = {
        r["doc_id"]: r["component_id"]
        for r in df.transform(t("dedup_connected_components")).collect()
    }
    assert got[10] == got[11] == got[12] == 10
    assert got[30] == 30
    # survivors mode keeps exactly one doc per component
    surv = df.transform(t("dedup_connected_components", keep="survivors"))
    assert sorted(r["doc_id"] for r in surv.collect()) == [10, 30]


def test_pii_redact_patterns_and_order(spark):
    df = spark.createDataFrame(
        [
            (1, "write to First.Last+x@sub.example.org today"),
            (2, "server at 192.168.001.12 port open"),
            (3, "card 4111 1111 1111 1111 and phone +49-555-1234"),
            (4, "no pii here at all"),
        ],
        "doc_id INT, text STRING",
    )
    got = {r["doc_id"]: r for r in df.transform(t("text_pii_redact")).collect()}
    assert got[1]["text_clean"] == "write to <EMAIL> today" and got[1]["n_pii"] == 1
    assert got[2]["text_clean"] == "server at <IP> port open" and got[2]["n_pii"] == 1
    # card is consumed by the card pattern BEFORE the ip/phone patterns see it
    assert got[3]["text_clean"] == "card <CARD> and phone <PHONE>" and got[3]["n_pii"] == 2
    assert got[4]["text_clean"] == "no pii here at all" and got[4]["n_pii"] == 0
    # kinds filter restricts which patterns run
    only_email = df.transform(t("text_pii_redact", kinds=["email"]))
    r3 = {r["doc_id"]: r for r in only_email.collect()}[3]
    assert "4111" in r3["text_clean"] and r3["n_pii"] == 0


def test_repetition_signals_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, ""), (3, "x y z")],
        "doc_id INT, text STRING",
    )
    got = {r["doc_id"]: r for r in df.transform(t("text_repetition")).collect()}
    assert got[1]["n_words_r"] == 4
    assert got[1]["distinct_word_ratio"] == 0.5
    assert got[1]["top_word_ratio"] == 0.75
    # bigrams: "a a","a a","a b" -> top fraction 2/3
    assert got[1]["top_2gram_ratio"] == round(2 / 3, 4)
    # empty doc -> all-zero signals
    assert got[2]["n_words_r"] == 0 and got[2]["top_2gram_ratio"] == 0.0
    # all-distinct doc
    assert got[3]["distinct_word_ratio"] == 1.0 and got[3]["top_word_ratio"] == round(1 / 3, 4)


def test_decontaminate_flag_and_drop(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta completely different words"),
            (3, "nothing in common with the benchmark text at all whatsoever here"),
        ],
        "doc_id INT, text STRING",
    )
    bench = spark.createDataFrame(
        [(99, "alpha beta gamma delta epsilon zeta eta theta")], "bid INT, text STRING"
    )
    out = docs.transform(t("text_decontaminate", benchmark_df=bench, ngram=8))
    got = {r["doc_id"]: r for r in out.collect()}
    # doc1 contains a full benchmark 8-gram; doc2 shares only a 7-word
    # prefix (never a complete 8-gram); doc3 shares nothing
    assert got[1]["is_contaminated"] and got[1]["n_contaminated_ngrams"] >= 1
    assert not got[2]["is_contaminated"]
    assert not got[3]["is_contaminated"]
    kept = docs.transform(
        t("text_decontaminate", benchmark_df=bench, ngram=8, mode="drop")
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 3]


def test_decontaminate_bloom_matches_exact_and_drops(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta completely different words"),
            (3, "nothing in common with the benchmark text at all whatsoever here"),
        ],
        "doc_id INT, text STRING",
    )
    bench = spark.createDataFrame(
        [(99, "alpha beta gamma delta epsilon zeta eta theta")], "bid INT, text STRING"
    )
    out = docs.transform(
        t("text_decontaminate_bloom", benchmark_df=bench, ngram=8)
    )
    got = {r["doc_id"]: r for r in out.collect()}
    # at the default 2^20 bits a 1-gram benchmark cannot collide: the bloom
    # verdicts coincide with the exact n-gram join's
    assert got[1]["maybe_contaminated"] and got[1]["n_bloom_hit_ngrams"] == 1
    assert not got[2]["maybe_contaminated"]
    assert not got[3]["maybe_contaminated"]
    kept = docs.transform(
        t("text_decontaminate_bloom", benchmark_df=bench, ngram=8, mode="drop")
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 3]


def test_decontaminate_bloom_no_false_negatives_tiny_filter(spark):
    """At num_bits=64 every probe collides into one or two chunks — the FP
    rate rockets but hits must NEVER be missed (one-sided error)."""
    docs = spark.createDataFrame(
        [(i, f"s{i} " + " ".join(f"w{j}" for j in range(8))) for i in range(20)],
        "doc_id INT, text STRING",
    )
    bench = docs.filter("doc_id < 5")
    out = docs.transform(
        t("text_decontaminate_bloom", benchmark_df=bench, ngram=8, num_bits=64)
    )
    flagged = {r["doc_id"] for r in out.collect() if r["maybe_contaminated"]}
    assert set(range(5)) <= flagged  # benchmark members always flagged


def test_decontaminate_bloom_empty_benchmark(spark):
    docs = spark.createDataFrame(
        [(1, "some perfectly ordinary text")], "doc_id INT, text STRING"
    )
    bench = docs.filter("doc_id < 0")
    out = docs.transform(t("text_decontaminate_bloom", benchmark_df=bench))
    row = out.collect()[0]
    assert row["n_bloom_hit_ngrams"] == 0 and not row["maybe_contaminated"]


def _z_dim(z, ci, ncols, bits):
    return sum(((z >> (j * ncols + ci)) & 1) << j for j in range(bits))


def test_zorder_key_interleaves_and_orders(spark):
    df = spark.createDataFrame(
        [(1, 0, 0), (2, 0, 99), (3, 99, 0), (4, 99, 99), (5, 50, 50)],
        "id INT, x INT, y INT",
    )
    out = df.transform(t("layout_zorder", cols=["x", "y"], bits_per_col=8))
    z = {r["id"]: r["zorder_key"] for r in out.collect()}
    # narrow range 0..99 scales UP to fill the 8-bit budget:
    # bucket = (v*256) div 100 — max value 99 → 253, midpoint 50 → 128
    assert z[1] == 0
    # x occupies even bit positions, y odd
    assert _z_dim(z[3], 0, 2, 8) == 253 and _z_dim(z[3], 1, 2, 8) == 0
    assert _z_dim(z[2], 0, 2, 8) == 0 and _z_dim(z[2], 1, 2, 8) == 253
    assert _z_dim(z[4], 0, 2, 8) == 253 and _z_dim(z[4], 1, 2, 8) == 253
    assert _z_dim(z[5], 0, 2, 8) == 128 and _z_dim(z[5], 1, 2, 8) == 128


def test_zorder_string_and_null_dims(spark):
    df = spark.createDataFrame(
        [(1, "apple", 1.5), (2, "banana", 2.5), (3, "zebra", 9.0), (4, None, None)],
        "id INT, s STRING, v DOUBLE",
    )
    out = df.transform(t("layout_zorder", cols=["s", "v"], bits_per_col=8))
    z = {r["id"]: r["zorder_key"] for r in out.collect()}
    sb = {i: _z_dim(z[i], 0, 2, 8) for i in z}
    vb = {i: _z_dim(z[i], 1, 2, 8) for i in z}
    # byte-lexicographic string buckets: 7-byte prefixes RIGHT-padded, so
    # 'banana' (6 bytes) sorts between 'apple' and 'zebra' (5 bytes each)
    assert sb[1] < sb[2] < sb[3]
    # NULLs take bucket 0 on every dimension (F.least skips nulls — the op
    # must route NULLs explicitly, not through least())
    assert sb[4] == 0 and vb[4] == 0
    assert vb[1] == 0 and vb[3] == 255


def test_zorder_rank_equalizes_skew(spark):
    """Power-law dimension: min/max scaling parks ~all rows in bucket 0;
    the rank CDF spreads them by row mass."""
    # 80% of rows take tiny values 0..6; 20% take 10^6 — a hub-heavy range
    rows = [(i, 1_000_000 if i % 5 == 0 else i % 7, i % 50) for i in range(1000)]
    df = spark.createDataFrame(rows, "id INT, x LONG, y INT")
    def xbucket(z):
        return sum(((z >> (j * 2)) & 1) << j for j in range(8))
    zmm = [xbucket(r["zorder_key"]) for r in
           df.transform(t("layout_zorder", cols=["x", "y"], bits_per_col=8)).collect()]
    zrk = [xbucket(r["zorder_key"]) for r in
           df.transform(t("layout_zorder", cols=["x", "y"], bits_per_col=8,
                          method="rank")).collect()]
    # min/max: the 0..6 values all collapse into bucket 0 — 80% of the mass
    assert sum(1 for b in zmm if b == 0) >= len(zmm) * 0.8
    # rank: all 8 distinct values land at distinct CDF positions
    assert len(set(zrk)) == 8
    from collections import Counter
    assert max(Counter(zrk).values()) <= len(zrk) * 0.21


def test_zorder_rank_cardinality_guard(spark):
    """The cap fires in-row inside the CDF window (no extra count pass),
    so it surfaces lazily at action time as a Spark runtime error."""
    df = spark.createDataFrame([(i, i) for i in range(100)], "id INT, x INT")
    out = df.transform(
        t("layout_zorder", cols=["x"], method="rank", rank_max_distinct=10)
    )
    with pytest.raises(Exception, match="rank_max_distinct"):
        out.collect()


def test_zorder_guards(spark):
    df = spark.createDataFrame([(1, 2)], "a INT, b INT")
    with pytest.raises(ValueError, match="62"):
        df.transform(t("layout_zorder", cols=["a", "b"], bits_per_col=32))
    with pytest.raises(ValueError, match="non-empty"):
        df.transform(t("layout_zorder", cols=[]))


def test_text_chunk_windows_and_overlap(spark):
    doc = " ".join(f"w{i}" for i in range(10))  # w0..w9
    df = spark.createDataFrame([(1, doc), (2, "a b"), (3, "")],
                               "doc_id LONG, text STRING")
    out = df.transform(t("text_chunk", chunk_tokens=4, overlap=2))
    got = {(r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["chunk_n_tokens"])
           for r in out.collect()}
    # doc 1: stride 2 → starts 0,2,4,6 — ceil((10-2)/2)=4 chunks
    assert got[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert got[(1, 1)] == ("w2 w3 w4 w5", 4)
    assert got[(1, 3)] == ("w6 w7 w8 w9", 4)
    assert (1, 4) not in got  # tail fully inside previous overlap
    assert got[(2, 0)] == ("a b", 2)      # short doc = one whole chunk
    assert all(k[0] != 3 for k in got)    # empty doc drops
    # every token of doc 1 appears in at least one chunk
    covered = set()
    for (d, _i), (txt, _n) in got.items():
        if d == 1:
            covered |= set(txt.split())
    assert covered == {f"w{i}" for i in range(10)}

    with pytest.raises(ValueError, match="overlap"):
        t("text_chunk", chunk_tokens=4, overlap=4)


def test_vocab_top_k_deterministic_ties(spark):
    df = spark.createDataFrame(
        [(1, "b a c a b z"), (2, "a q")], "doc_id INT, text STRING"
    )
    rows = df.transform(t("vocab_top_k", k=3)).collect()
    # counts: a=3, b=2, c=1, z=1, q=1 -> ties broken alphabetically
    assert [(r["word"], r["n"], r["rank"]) for r in rows] == [
        ("a", 3, 1), ("b", 2, 2), ("c", 1, 3)
    ]


def test_stratified_sample_cap_and_determinism(spark):
    rows = [(i, "en" if i < 30 else "de") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id INT, lang STRING")
    capped = df.transform(t("stratified_sample", group_cols=["lang"], id_col="doc_id", n_per_group=5))
    by_lang = {r["lang"]: r["n"] for r in capped.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert by_lang == {"en": 5, "de": 5}
    # deterministic: the same ids survive on re-run
    again = df.transform(t("stratified_sample", group_cols=["lang"], id_col="doc_id", n_per_group=5))
    assert sorted(r["doc_id"] for r in capped.collect()) == sorted(r["doc_id"] for r in again.collect())
    # fractional path is a pure filter consistent with hash_sample
    frac = df.transform(t("stratified_sample", group_cols=["lang"], id_col="doc_id", fraction_per_group=0.5))
    plain = df.transform(t("hash_sample", id_col="doc_id", fraction=0.5))
    assert sorted(r["doc_id"] for r in frac.collect()) == sorted(r["doc_id"] for r in plain.collect())
    with pytest.raises(Exception):
        t("stratified_sample", group_cols=["lang"], id_col="doc_id")
    with pytest.raises(Exception):
        t("stratified_sample", group_cols=["lang"], id_col="doc_id", n_per_group=5, fraction_per_group=0.5)


def test_mixture_sample_weights_and_default(spark):
    rows = [(i, ["en", "de", "xx"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id INT, lang STRING")
    out = df.transform(
        t("mixture_sample", group_col="lang", id_col="doc_id",
          weights={"en": 1.0, "de": 0.5})
    )
    by = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert by.get("en") == 100          # fraction 1.0 keeps everything
    assert "xx" not in by               # default_fraction=0 drops unlisted
    assert 20 < by.get("de", 0) < 80    # ~half, hash-uniform
    # deterministic membership: same ids on re-run
    again = df.transform(
        t("mixture_sample", group_col="lang", id_col="doc_id",
          weights={"en": 1.0, "de": 0.5})
    )
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(r["doc_id"] for r in again.collect())
    with pytest.raises(Exception):
        t("mixture_sample", group_col="lang", id_col="doc_id", weights={"en": 1.5})


def test_lsh_bucket_stats(docs):
    stats = docs.transform(t("lsh_bucket_stats", num_hashes=12, bands=4)).collect()
    # histogram invariant: sum(size * n_buckets) == total band rows (docs x bands)
    assert sum(r["n_docs"] for r in stats) == docs.count() * 4
    assert all(r["n_docs"] == r["bucket_size"] * r["n_buckets"] for r in stats)
    # the near-dup fixture has at least one shared bucket
    assert max(r["bucket_size"] for r in stats) >= 2


def test_dedup_exact_streaming_with_watermark(spark, tmp_path):
    import datetime as dt

    src = str(tmp_path / "src")
    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 0, 0)),
        (1, dt.datetime(2024, 1, 1, 10, 5, 0)),   # dup key within watermark
        (2, dt.datetime(2024, 1, 1, 10, 1, 0)),
    ]
    spark.createDataFrame(rows, "k INT, ts TIMESTAMP").coalesce(1).write.parquet(src)
    sdf = spark.readStream.schema("k INT, ts TIMESTAMP").parquet(src)
    out = sdf.transform(t("dedup_exact", key_cols=["k"], watermark_col="ts",
                          watermark_delay="1 hour"))
    assert out.isStreaming
    q = (
        out.writeStream.format("memory").queryName("stream_dedup_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r["k"] for r in spark.table("stream_dedup_t").collect()}
    assert got == {1, 2}
    assert spark.table("stream_dedup_t").count() == 2  # dup dropped


def test_dedup_exact_streaming_requires_watermark(spark, tmp_path):
    import datetime as dt

    src = str(tmp_path / "src2")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1))], "k INT, ts TIMESTAMP"
    ).write.parquet(src)
    sdf = spark.readStream.schema("k INT, ts TIMESTAMP").parquet(src)
    with pytest.raises(ValueError, match="watermark_col"):
        sdf.transform(t("dedup_exact", key_cols=["k"]))


def test_pack_sequences_deterministic_and_budgeted(spark):
    rows = [(i, f"doc {i} " + "tok " * (i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING").selectExpr(
        "doc_id", "size(split(trim(text), '\\\\s+')) AS n_tokens"
    )
    packed = df.transform(
        t("pack_sequences", token_col="n_tokens", id_col="doc_id", budget=32, shards=4)
    )
    got = packed.collect()
    # every doc STARTS within its pack's budget window
    assert all(0 <= r["pack_offset"] < 32 for r in got)
    # pack ids are unique across shards (shard baked into the id)
    assert all(r["pack_id"] // 1_000_000_000 == r["pack_shard"] for r in got)
    # per-pack token load: starts fit the budget, so the pack's doc-start
    # total can exceed budget only via the last straddling doc
    from collections import defaultdict
    loads = defaultdict(list)
    for r in got:
        loads[r["pack_id"]].append((r["pack_offset"], r["n_tokens"]))
    for docs in loads.values():
        docs.sort()
        for off, _ in docs:
            assert off < 32
    # deterministic: a second run assigns identical packs
    again = {r["doc_id"]: r["pack_id"] for r in df.transform(
        t("pack_sequences", token_col="n_tokens", id_col="doc_id", budget=32, shards=4)
    ).collect()}
    assert again == {r["doc_id"]: r["pack_id"] for r in got}


def test_knn_ivf_sparse_offset_ids(spark):
    # regression: centroid selection must work when vector ids are sparse
    # and nowhere near 0 (an id-bound filter silently selected zero
    # centroids and returned an empty result)
    rows = [(1_000_000 + i * 7, [1.0 + 0.001 * i, 0.0, 0.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = df.transform(
        t("knn_ivf", k=2, query_filter=f"vec_id = {1_000_000}", num_centroids=4, nprobe=4)
    ).collect()
    assert len(out) == 2  # neighbors found, not an empty frame
    assert all(r["neighbor_id"] != 1_000_000 for r in out)


def test_knn_ivf_lloyd_refinement_improves_clusters(spark):
    # two tight clusters whose hash-sample centroids may both land in one
    # cluster; after Lloyd rounds the centroids separate and the probe list
    # for a cluster-A query contains only cluster-A neighbors at nprobe=1
    rows = [(i, [1.0 + 0.001 * i, 0.0]) for i in range(20)] + [
        (100 + i, [0.0, 1.0 + 0.001 * i]) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    out = df.transform(
        t("knn_ivf", k=3, query_filter="vec_id = 0", num_centroids=2,
          nprobe=1, iters=3)
    ).collect()
    assert out and all(r["neighbor_id"] < 100 for r in out)


# ------------------------------------------------- round-4 curation ops
def test_quality_prune_rules_and_drop(spark):
    rows = [
        (0, "the cat sat on the mat and it was a very good day for everyone involved"),
        (1, "too short"),                                  # fails word count
        (2, "$$$ %%% ### @@@ !!! *** $$$ %%% ### @@@ !!! ***"),  # symbols, no stopwords
        (3, "spam spam spam spam spam spam spam spam spam the end"),  # repetition
        (4, "call 12345 67890 12345 67890 12345 67890 the 99999 88888 77777"),  # digits
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = {r["doc_id"]: r.asDict() for r in df.transform(
        t("text_quality_prune", min_words=10, max_top_word_ratio=0.3)
    ).collect()}
    assert out[0]["quality_pass"]
    assert not out[1]["pass_word_count"]
    assert not out[2]["pass_symbol_ratio"] and not out[2]["pass_stopwords"]
    assert not out[3]["pass_top_word"]       # 9/11 spam
    assert not out[4]["pass_digit_ratio"]
    kept = df.transform(
        t("text_quality_prune", min_words=10, max_top_word_ratio=0.3, mode="drop")
    ).collect()
    assert [r["doc_id"] for r in kept] == [0]
    assert "quality_pass" not in kept[0].asDict()


def test_lm_score_hand_computed(spark):
    # counts: a=2 b=2 c=1, N=5; log10 rounded to 4dp then exact decimal math
    df = spark.createDataFrame([(1, "a a b"), (2, "b c")], "doc_id INT, text STRING")
    out = {r["doc_id"]: r for r in df.transform(t("text_lm_score")).collect()}
    lg2, lg5 = round(math.log10(2), 4), round(math.log10(5), 4)
    assert out[1]["avg_logprob"] == pytest.approx(round(lg2 - lg5, 4), abs=1e-9)
    assert out[2]["avg_logprob"] == pytest.approx(round(lg2 / 2 - lg5, 4), abs=1e-9)
    assert out[1]["n_scored_tokens"] == 3
    # OOV floor: top_v=1 keeps only 'a' (count ties break word-asc); b and c
    # take the fixed floor and N shrinks to the in-vocab mass
    oov = {r["doc_id"]: r for r in df.transform(
        t("text_lm_score", top_v=1)
    ).collect()}
    exp1 = (2 * lg2 - 0.3010) / 3 - lg2  # raw double: op emits unrounded
    assert oov[1]["avg_logprob"] == pytest.approx(exp1, abs=1e-9)


def test_tfidf_top_terms_ranking(spark):
    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry date date")],
        "doc_id INT, text STRING",
    )
    out = df.transform(t("text_tfidf_top_terms", k=2)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["term_rank"], r["term"], r["tf"], r["df"]))
    for v in by_doc.values():
        v.sort()
    # doc 1: apple tf=2 df=1 dominates banana tf=1 df=2
    assert by_doc[1][0][1] == "apple" and by_doc[1][0][2] == 2 and by_doc[1][0][3] == 1
    assert by_doc[1][1][1] == "banana"
    # doc 3: date tf=2 beats cherry
    assert by_doc[3][0][1] == "date"
    # every doc emits at most k rows with dense ranks starting at 1
    assert all([x[0] for x in v] == list(range(1, len(v) + 1)) for v in by_doc.values())


def test_global_shuffle_dense_deterministic_stable(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id INT")
    out = df.transform(t("global_shuffle", shards=4, seed="s")).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append((r["position"], r["doc_id"]))
    # dense 0..n-1 positions per shard
    for rows in by_shard.values():
        rows.sort()
        assert [p for p, _ in rows] == list(range(len(rows)))
    # deterministic across runs
    again = df.transform(t("global_shuffle", shards=4, seed="s")).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    # append-stability: growing the corpus preserves the relative order of
    # surviving ids within each shard (hash order is a property of the id)
    grown = spark.createDataFrame([(i,) for i in range(300)], "doc_id INT").transform(
        t("global_shuffle", shards=4, seed="s")
    ).collect()
    pos0 = {r["doc_id"]: (r["shard"], r["position"]) for r in out}
    posg = {r["doc_id"]: (r["shard"], r["position"]) for r in grown if r["doc_id"] < 200}
    for shard, rows in by_shard.items():
        order_old = [d for _, d in sorted(rows)]
        order_new = [d for _, d in sorted((posg[d][1], d) for d in order_old)]
        assert order_old == order_new
        assert all(posg[d][0] == shard for d in order_old)


def test_embedding_normalize_and_zero_vectors(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "vec_id INT, embedding ARRAY<FLOAT>"
    )
    out = {r["vec_id"]: r for r in df.transform(t("embedding_normalize")).collect()}
    assert out[1]["l2_norm"] == pytest.approx(5.0)
    assert out[1]["embedding_unit"] == pytest.approx([0.6, 0.8])
    assert out[2]["l2_norm"] == 0.0 and out[2]["embedding_unit"] == [0.0, 0.0]


def test_embedding_quantize_int8_codes(spark):
    df = spark.createDataFrame(
        [(1, [0.6, 0.8]), (2, [-0.5, 1.0]), (3, [0.0, 0.0])],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    out = {r["vec_id"]: r for r in df.transform(t("embedding_quantize_int8")).collect()}
    assert out[1]["embedding_q8"] == [95, 127]          # floor(95.25+.5)=95
    assert out[1]["q8_scale"] == pytest.approx(0.8 / 127)
    assert out[2]["embedding_q8"] == [-63, 127]         # floor(-63.5+.5)=-63
    assert out[3]["embedding_q8"] == [0, 0] and out[3]["q8_scale"] == 0.0


def test_dedup_cross_exact_drop_flag_normalize(spark):
    main = spark.createDataFrame(
        [(1, "Hello  World"), (2, "unique text"), (3, "hello world")],
        "doc_id INT, text STRING",
    )
    ref = spark.createDataFrame([(9, "hello   world")], "doc_id INT, text STRING")
    kept = main.transform(
        t("dedup_cross_exact", other_df=ref, key_cols=["text"])
    ).collect()
    assert sorted(r["doc_id"] for r in kept) == [2]  # 1 and 3 normalize-match ref
    flagged = {r["doc_id"]: r["in_reference"] for r in main.transform(
        t("dedup_cross_exact", other_df=ref, key_cols=["text"], mode="flag")
    ).collect()}
    assert flagged == {1: True, 2: False, 3: True}
    # normalize=False: exact bytes only
    strict = main.transform(
        t("dedup_cross_exact", other_df=ref, key_cols=["text"], normalize=False)
    ).collect()
    assert sorted(r["doc_id"] for r in strict) == [1, 2, 3]


def test_dedup_cross_minhash_near_dup_detection(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    near = base.replace("runs far", "sprints far")
    other = "completely different content about databases and distributed query engines at scale today"
    main = spark.createDataFrame(
        [(1, near), (2, other), (3, base)], "doc_id INT, text STRING"
    )
    ref = spark.createDataFrame([(9, base)], "doc_id INT, text STRING")
    flagged = {r["doc_id"]: r["near_reference"] for r in main.transform(
        t("dedup_cross_minhash", other_df=ref, mode="flag",
          num_hashes=12, bands=6, shingle_size=2)
    ).collect()}
    assert flagged[3] is True          # identical always collides
    assert flagged[1] is True          # near-dup collides in some band
    assert flagged[2] is False
    kept = main.transform(
        t("dedup_cross_minhash", other_df=ref, num_hashes=12, bands=6,
          shingle_size=2)
    ).collect()
    assert [r["doc_id"] for r in kept] == [2]


def test_quantile_prune_threshold_and_ties(spark):
    # scores: 10×1, 5×2, 3×3, 2×4 (N=20); keep_frac=0.25 → target 5 rows;
    # descending cum: 4→2, 3→5 ⇒ threshold 3, keep scores >= 3 (5 rows)
    rows = [(i, s) for i, s in enumerate([1]*10 + [2]*5 + [3]*3 + [4]*2)]
    df = spark.createDataFrame(rows, "id INT, score INT")
    kept = df.transform(t("quantile_prune", score_col="score", keep_frac=0.25)).collect()
    assert sorted(r["score"] for r in kept) == [3, 3, 3, 4, 4]
    # ties may exceed the budget: keep_frac=0.2 → target 4; cum(3)=5 ⇒ all 5 kept
    kept2 = df.transform(t("quantile_prune", score_col="score", keep_frac=0.2)).collect()
    assert sorted(r["score"] for r in kept2) == [3, 3, 3, 4, 4]
    # lower-is-better direction
    low = df.transform(t("quantile_prune", score_col="score", keep_frac=0.5,
                         higher_is_better=False)).collect()
    assert sorted(r["score"] for r in low) == [1]*10
    with pytest.raises(ValueError):
        t("quantile_prune", score_col="score", keep_frac=0.0)


def test_dedup_cross_embedding_semantic_hits(spark):
    rows = [
        (1, [1.0, 0.001, 0.0, 0.0]),   # near ref vector 9
        (2, [0.0, 0.0, 1.0, 0.0]),     # orthogonal to ref
        (3, [1.0, 0.0, 0.0, 0.0]),     # identical direction to ref
    ]
    main = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    ref = spark.createDataFrame(
        [(9, [2.0, 0.0, 0.0, 0.0])], "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    flagged = {r["vec_id"]: r["near_reference"] for r in main.transform(
        t("dedup_cross_embedding", other_df=ref, mode="flag", threshold=0.99,
          num_planes=8, num_tables=4, dim=4)
    ).collect()}
    assert flagged[1] is True and flagged[3] is True
    assert flagged[2] is False
    kept = main.transform(
        t("dedup_cross_embedding", other_df=ref, threshold=0.99,
          num_planes=8, num_tables=4, dim=4)
    ).collect()
    assert [r["vec_id"] for r in kept] == [2]


def test_quantize_dequant_error_bound_randomized(spark):
    # invariant over 500 random vectors: |q*scale - v| <= scale/2 per
    # component (round-to-nearest), codes within [-127, 127]
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-3, 3) for _ in range(16)]) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    out = df.transform(t("embedding_quantize_int8")).collect()
    orig = dict(rows)
    for r in out:
        scale = r["q8_scale"]
        for q, v in zip(r["embedding_q8"], orig[r["vec_id"]]):
            assert -127 <= q <= 127
            assert abs(q * scale - v) <= scale / 2 + 1e-12


def test_global_shuffle_is_bijective_permutation(spark):
    # (shard, position) pairs form a bijection onto the id set for any
    # shard count, including shards=1 (a total order)
    df = spark.createDataFrame([(i,) for i in range(5000)], "doc_id LONG")
    for shards in (1, 7, 64):
        out = df.transform(t("global_shuffle", shards=shards, seed="p")).collect()
        assert len(out) == 5000
        assert len({(r["shard"], r["position"]) for r in out}) == 5000
        assert all(0 <= r["shard"] < shards for r in out)


def test_lm_score_bigram_hand_computed(spark):
    # corpus bigrams: "a b" ×2, "b a" ×1, "b c" ×1; unigrams a=3, b=3, c=1
    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "b"), (3, "")], "doc_id INT, text STRING"
    )
    out = {r["doc_id"]: r for r in df.transform(
        t("text_lm_score_bigram")
    ).collect()}
    lg = lambda x: round(math.log10(x), 4)
    # unigrams: a=2, b=3, c=1. doc 1 bigrams ab, ba, ab, bc →
    # lp = [lg2-lg2, 0-lg3, lg2-lg2, 0-lg3] = [0, -lg3, 0, -lg3]
    exp = (2 * (lg(2) - lg(2)) + 2 * (0 - lg(3))) / 4
    assert out[1]["avg_logprob2"] == pytest.approx(exp, abs=1e-9)
    assert out[1]["n_scored_bigrams"] == 4
    # docs under 2 tokens: no bigrams, NULL score
    assert out[2]["n_scored_bigrams"] == 0 and out[2]["avg_logprob2"] is None
    assert out[3]["n_scored_bigrams"] == 0
    # OOV floor: top_v=1 keeps only "a b"; other bigrams take -3.0
    oov = {r["doc_id"]: r for r in df.transform(
        t("text_lm_score_bigram", top_v=1)
    ).collect()}
    exp_oov = (2 * (lg(2) - lg(2)) + 2 * -3.0) / 4
    assert oov[1]["avg_logprob2"] == pytest.approx(exp_oov, abs=1e-9)
    # word-order sensitivity: in a corpus dominated by in-order text, the
    # same words in garbled order hit rare bigrams and score lower
    ordered = "the cat sat on the mat"
    garbled = "mat the on sat cat the"
    rows2 = [(i, ordered) for i in range(10)] + [(99, garbled)]
    df2 = spark.createDataFrame(rows2, "doc_id INT, text STRING")
    got = {r["doc_id"]: r["avg_logprob2"] for r in df2.transform(
        t("text_lm_score_bigram")
    ).collect()}
    assert got[0] > got[99]


def test_embedding_mean_pool_exact_and_order_independent(spark):
    rows = [(0, [1.0, 2.0]), (0, [3.0, 4.0]), (1, [-1.5, 0.5])]
    df = spark.createDataFrame(rows, "label INT, embedding ARRAY<DOUBLE>")
    out = {r["label"]: r for r in df.transform(t("embedding_mean_pool")).collect()}
    assert out[0]["n_vectors"] == 2
    assert out[0]["pool_sums"] == [4_000_000, 6_000_000]
    assert out[0]["embedding_mean"] == pytest.approx([2.0, 3.0])
    assert out[1]["embedding_mean"] == pytest.approx([-1.5, 0.5])
    # partitioning independence: radically different partitioning, same sums
    again = {r["label"]: r["pool_sums"] for r in df.repartition(7).transform(
        t("embedding_mean_pool")
    ).collect()}
    assert again == {k: v["pool_sums"] for k, v in out.items()}


def test_token_budget_sample_expected_budgets(spark):
    # group A: 100 docs × 10 tokens = 1000 total, budget 500 → ~half kept;
    # group B: no budget → kept whole; group C: budget 0 → dropped
    rows = [(i, "A", 10) for i in range(100)] + \
           [(200 + i, "B", 10) for i in range(20)] + \
           [(300 + i, "C", 10) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id INT, src STRING, n_tokens INT")
    out = df.transform(
        t("token_budget_sample", group_col="src", token_col="n_tokens",
          budgets={"A": 500, "C": 0}, seed="q")
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r["src"], []).append(r["doc_id"])
    assert len(by.get("B", [])) == 20           # untouched
    assert "C" not in by                        # zero budget drops
    kept_tokens = len(by["A"]) * 10
    assert 300 <= kept_tokens <= 700            # ~500 in expectation
    # default_keep=False drops unbudgeted groups
    strict = df.transform(
        t("token_budget_sample", group_col="src", token_col="n_tokens",
          budgets={"A": 500}, default_keep=False, seed="q")
    ).collect()
    assert {r["src"] for r in strict} == {"A"}
    # determinism: same seed → same rows
    again = df.transform(
        t("token_budget_sample", group_col="src", token_col="n_tokens",
          budgets={"A": 500, "C": 0}, seed="q")
    ).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(r["doc_id"] for r in out)
    # budget >= total keeps the whole group
    full = df.transform(
        t("token_budget_sample", group_col="src", token_col="n_tokens",
          budgets={"A": 10_000}, seed="q")
    ).collect()
    assert len([r for r in full if r["src"] == "A"]) == 100


def test_line_dedup_c4_semantics(spark):
    rows = [
        (1, "unique alpha\nCOMMON FOOTER\nunique beta"),
        (2, "unique gamma\nCOMMON FOOTER\n\nunique delta"),
        (3, "COMMON FOOTER"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = {r["doc_id"]: r for r in df.transform(t("text_line_dedup")).collect()}
    # footer survives only in doc 1 (smallest id)
    assert out[1]["text_deduped"] == "unique alpha\nCOMMON FOOTER\nunique beta"
    assert out[1]["n_lines_removed"] == 0
    # doc 2 loses the footer but keeps its blank line (min_line_chars=1)
    assert out[2]["text_deduped"] == "unique gamma\n\nunique delta"
    assert out[2]["n_lines_removed"] == 1
    # doc 3 becomes empty
    assert out[3]["text_deduped"] == "" and out[3]["n_lines_removed"] == 1
    # duplicate line WITHIN one doc also collapses to first occurrence
    df2 = spark.createDataFrame(
        [(9, "same line\nsame line\nother")], "doc_id INT, text STRING"
    )
    got = df2.transform(t("text_line_dedup")).collect()[0]
    assert got["text_deduped"] == "same line\nother"


def test_datapipes_ops_handle_empty_input(spark):
    """Empty corpora (a filtered-out partition, a first run) must yield
    empty results, not crash — the embedding dim probes previously
    subscripted a None row."""
    docs = spark.createDataFrame([], "doc_id LONG, text STRING")
    emb = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    cases = [
        ("text_quality_prune", docs, {}),
        ("text_lm_score", docs, {}),
        ("text_lm_score_bigram", docs, {}),
        ("text_tfidf_top_terms", docs, {}),
        ("text_line_dedup", docs, {}),
        ("global_shuffle", docs, {}),
        ("quantile_prune", docs, {"score_col": "doc_id", "keep_frac": 0.5}),
        ("dedup_exact", docs, {"key_cols": ["text"], "id_col": "doc_id"}),
        ("dedup_minhash_lsh", docs, {}),
        ("dedup_simhash", docs, {}),
        ("dedup_embedding_cosine", emb, {}),
        ("dedup_embedding_cosine", emb, {"method": "exact"}),
        ("embedding_normalize", emb, {}),
        ("embedding_quantize_int8", emb, {}),
        ("embedding_mean_pool", emb, {"group_col": "vec_id"}),
        ("knn_brute_force", emb, {"query_filter": "vec_id < 3"}),
        ("knn_lsh", emb, {"query_filter": "vec_id < 3"}),
        ("knn_ivf", emb, {"query_filter": "vec_id < 3", "iters": 2}),
        ("pack_sequences", docs.selectExpr("doc_id", "1 AS n_tokens"), {}),
    ]
    for name, df, args in cases:
        assert df.transform(t(name, **args)).count() == 0, name
    # cross ops: empty main, empty ref, and both
    main = spark.createDataFrame([(1, "hello world")], "doc_id LONG, text STRING")
    assert docs.transform(
        t("dedup_cross_minhash", other_df=main, mode="flag")
    ).count() == 0
    assert main.transform(
        t("dedup_cross_exact", other_df=docs, key_cols=["text"])
    ).count() == 1
    one = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id LONG, embedding ARRAY<DOUBLE>")
    assert emb.transform(
        t("dedup_cross_embedding", other_df=one, mode="flag")
    ).count() == 0
    assert one.transform(t("dedup_cross_embedding", other_df=emb)).count() == 1


def test_text_ops_null_text_contract(spark):
    """NULL/empty text must degrade, not crash: scoring ops keep the row
    (null or zero-valued features), chunking emits nothing for contentless
    docs, and signature dedup treats null and empty text as the same
    no-content document."""
    docs = spark.createDataFrame(
        [(1, None), (2, "real text here with several good words for the test"), (3, "")],
        "doc_id LONG, text STRING",
    )
    for name in ("text_quality_prune", "text_quality_score", "text_langid",
                 "text_pii_redact", "text_repetition", "text_lm_score",
                 "text_line_dedup"):
        assert docs.transform(t(name)).count() == 3, name
    # contentless docs yield no chunks and no tf-idf terms
    assert [r["doc_id"] for r in docs.transform(t("text_chunk")).collect()] == [2]
    assert {r["doc_id"] for r in docs.transform(t("text_tfidf_top_terms")).collect()} == {2}
    # null text and empty text share the degenerate signature → one survives
    kept = {r["doc_id"] for r in docs.transform(t("dedup_minhash_lsh")).collect()}
    assert kept == {1, 2}


def test_substring_dedup_lee_et_al_semantics(spark):
    rows = [
        (1, "a b c d e f g h unique one two three"),
        (2, "x y a b c d e f g h z w"),           # repeats doc 1's 8-gram
        (3, "totally different words without repeats here at all"),
        (4, "p q r p q r p q r p q r p q r p q r"),  # self-repeating
        (5, "short doc"),                          # under k tokens
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = {r["doc_id"]: r for r in df.transform(
        t("dedup_substring_exact", k=8)
    ).collect()}
    # first occurrence keeps the span; the later doc loses exactly it
    assert out[1]["text_deduped"] == "a b c d e f g h unique one two three"
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["text_deduped"] == "x y z w" and out[2]["n_tokens_removed"] == 8
    assert out[3]["n_tokens_removed"] == 0
    # self-repetition: windows repeating EARLIER IN THE SAME DOC are cut
    # (18 tokens: first 8-gram window survives, positions 3..17 covered)
    assert out[4]["text_deduped"] == "p q r" and out[4]["n_tokens_removed"] == 15
    # docs under k pass through whitespace-normalized
    assert out[5]["text_deduped"] == "short doc" and out[5]["n_tokens_removed"] == 0
    with pytest.raises(ValueError):
        t("dedup_substring_exact", k=1)


def test_curation_report_funnel(spark):
    df = spark.createDataFrame(
        [(1, "a", True, False), (2, "a", True, True), (3, "b", False, True)],
        "id INT, grp STRING, f1 BOOLEAN, f2 BOOLEAN",
    )
    flat = {r["flag"]: r for r in df.transform(
        t("curation_report", flag_cols=["f1", "f2"])
    ).collect()}
    assert flat["f1"]["n_rows"] == 3 and flat["f1"]["n_flagged"] == 2
    assert flat["f2"]["pct_flagged"] == pytest.approx(2 / 3)
    grouped = {(r["grp"], r["flag"]): r["n_flagged"] for r in df.transform(
        t("curation_report", flag_cols=["f1"], group_col="grp")
    ).collect()}
    assert grouped == {("a", "f1"): 2, ("b", "f1"): 0}
    with pytest.raises(ValueError):
        t("curation_report", flag_cols=[])


# --------------------------------------------------------------------------
# hopping windows / numeric curation
# --------------------------------------------------------------------------


def test_hopping_window_assignments_and_aggs(spark):
    """1h windows sliding 15min: an event belongs to exactly 4 epoch-aligned
    windows; counts and extra aggs land in every containing window."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 20, 0)  # bucket(15m) = 12:15
    df = spark.createDataFrame([("click", t0, 2.0)], "event_type STRING, ts TIMESTAMP, value DOUBLE")
    rows = df.transform(
        t(
            "hopping_window_agg",
            group_cols=["event_type"],
            window="1 hour",
            slide="15 minutes",
            aggs={"sum_value": "SUM(value)"},
        )
    ).collect()
    starts = sorted(r["window_start"] for r in rows)
    expect = [dt.datetime(2024, 1, 1, 11, 30), dt.datetime(2024, 1, 1, 11, 45),
              dt.datetime(2024, 1, 1, 12, 0), dt.datetime(2024, 1, 1, 12, 15)]
    assert starts == expect
    assert all(r["n_events"] == 1 and r["sum_value"] == 2.0 for r in rows)
    assert all((r["window_end"] - r["window_start"]).total_seconds() == 3600 for r in rows)


def test_hopping_window_runs_on_a_stream(spark, tmp_dir):
    import datetime as dt
    import os
    from lakehouse_engine_spark.datapipes.joins import hopping_window_agg

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    src = os.path.join(tmp_dir, "hop_in")
    spark.createDataFrame(
        [("u1", t0), ("u1", t0 + dt.timedelta(minutes=20))],
        "user_id STRING, ts TIMESTAMP",
    ).write.parquet(src)
    stream = (
        spark.readStream.schema("user_id STRING, ts TIMESTAMP")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .transform(hopping_window_agg(group_cols=["user_id"], window="1 hour", slide="30 minutes"))
    )
    q = (
        stream.writeStream.format("memory").queryName("hop_out")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r["window_start"]: r["n_events"] for r in spark.table("hop_out").collect()}
    # 12:00 event -> windows 11:30, 12:00; 12:20 event -> 11:30(no: 11:30+1h=12:30>12:20 yes), 12:00
    assert got[t0] == 2 and got[t0 - dt.timedelta(minutes=30)] == 2


def test_winsorize_exact_clips_and_preserves_nulls(spark):
    """Exact percentiles use linear interpolation (quantile_cont): for
    values 1..10, p10 = 1.9 and p90 = 9.1; NULLs pass through unclamped."""
    rows = [(float(i),) for i in range(1, 11)] + [(None,)]
    df = spark.createDataFrame(rows, "value DOUBLE")
    out = df.transform(
        t("winsorize", value_col="value", lower=0.1, upper=0.9, method="exact")
    ).collect()
    by_val = {r["value"]: r for r in out}
    assert by_val[1.0]["value_wins"] == pytest.approx(1.9)
    assert by_val[10.0]["value_wins"] == pytest.approx(9.1)
    assert by_val[5.0]["value_wins"] == 5.0
    assert by_val[None]["value_wins"] is None
    assert by_val[5.0]["value_lo"] == pytest.approx(1.9)
    assert by_val[5.0]["value_hi"] == pytest.approx(9.1)


def test_winsorize_per_group_approx_default(spark):
    """Groups learn independent bounds; the approx default stays inside the
    group's value range and clips the extremes."""
    rows = [("a", float(i)) for i in range(1, 101)] + [("b", 1000.0), ("b", 2000.0)]
    df = spark.createDataFrame(rows, "grp STRING, value DOUBLE")
    out = df.transform(
        t("winsorize", value_col="value", group_cols=["grp"], lower=0.05, upper=0.95)
    ).collect()
    a = [r for r in out if r["grp"] == "a"]
    assert all(r["value_lo"] >= 1.0 and r["value_hi"] <= 100.0 for r in a)
    assert max(r["value_wins"] for r in a) <= 100.0
    b_vals = {r["value"]: r["value_wins"] for r in out if r["grp"] == "b"}
    assert set(b_vals) == {1000.0, 2000.0}  # b bounds learned from b only
    with pytest.raises(ValueError):
        t("winsorize", value_col="value", lower=0.9, upper=0.1)
    with pytest.raises(ValueError):
        t("winsorize", value_col="value", method="guess")


def test_zscore_per_group_and_zero_variance(spark):
    import math

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 7.0), ("b", 7.0), ("c", None)]
    df = spark.createDataFrame(rows, "grp STRING, v DOUBLE")
    out = df.transform(t("zscore_normalize", value_col="v", group_cols=["grp"])).collect()
    a = sorted(r["v_z"] for r in out if r["grp"] == "a")
    sd = math.sqrt(2.0 / 3.0)
    assert a == [pytest.approx(-1.0 / sd), pytest.approx(0.0), pytest.approx(1.0 / sd)]
    # zero-variance group -> NULL z, not a division error
    assert all(r["v_z"] is None for r in out if r["grp"] == "b")
    assert all(r["v_z"] is None for r in out if r["grp"] == "c")
    with pytest.raises(ValueError):
        t("zscore_normalize", value_col="v", ddof=2)


def test_weighted_sample_probability_proportional(spark):
    """p=0 keeps nothing, p=1 keeps everything, and mid probabilities keep
    a hash-stable subset that is monotone in p (same seed => a row kept at
    p stays kept at p' > p)."""
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    none = df.transform(t("weighted_sample", id_col="doc_id", prob_expr="0.0"))
    everything = df.transform(t("weighted_sample", id_col="doc_id", prob_expr="1.0"))
    assert none.count() == 0 and everything.count() == 2000
    low = set(r["doc_id"] for r in df.transform(
        t("weighted_sample", id_col="doc_id", prob_expr="0.2", seed="s")).collect())
    high = set(r["doc_id"] for r in df.transform(
        t("weighted_sample", id_col="doc_id", prob_expr="0.6", seed="s")).collect())
    assert low <= high
    assert 0.1 < len(low) / 2000 < 0.3 and 0.5 < len(high) / 2000 < 0.7
    # out-of-range probabilities clamp instead of exploding
    clamped = df.transform(t("weighted_sample", id_col="doc_id", prob_expr="doc_id - 1000"))
    assert clamped.count() == 999  # ids 1001..1999 have p>=1, ids <= 1000 have p<=0


def test_trailing_window_range_frame_semantics(spark):
    """RANGE frame: inclusive [ts-24h, ts], equal-ts peers all included,
    keys independent."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    h = dt.timedelta(hours=1)
    rows = [
        ("u1", t0, 1.0),
        ("u1", t0 + 24 * h, 10.0),   # exactly 24h later -> includes t0 row
        ("u1", t0 + 25 * h, 100.0),  # t0 row now out of range
        ("u2", t0 + 24 * h, 5.0),    # other key unaffected
        ("u2", t0 + 24 * h, 7.0),    # equal-ts peer: both see both
    ]
    df = spark.createDataFrame(rows, "user_id STRING, ts TIMESTAMP, value DOUBLE")
    out = df.transform(
        t("trailing_window_agg", on=["user_id"], duration="24 hours",
          aggs={"sum_t": "SUM(value)"})
    ).collect()
    got = {(r["user_id"], r["value"]): (r["n_trailing"], r["sum_t"]) for r in out}
    assert got[("u1", 1.0)] == (1, 1.0)
    assert got[("u1", 10.0)] == (2, 11.0)
    assert got[("u1", 100.0)] == (2, 110.0)
    assert got[("u2", 5.0)] == (2, 12.0) and got[("u2", 7.0)] == (2, 12.0)
    with pytest.raises(ValueError):
        t("trailing_window_agg", on=["user_id"], duration="fortnight")


def test_funnel_ordered_stage_semantics(spark):
    """Stages must be reached IN ORDER (>= allows same-instant); a stage
    before its predecessor doesn't count, and the chain breaks with NULLs
    from the first missing stage."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    rows = [
        # u1: clean view -> click -> purchase
        ("u1", "view", t0), ("u1", "click", t0 + h), ("u1", "purchase", t0 + 2 * h),
        # u2: click BEFORE first view -> click stage unreached
        ("u2", "click", t0), ("u2", "view", t0 + h),
        # u3: view then purchase with no click -> purchase unreached
        ("u3", "view", t0), ("u3", "purchase", t0 + h),
        # u4: click at the same instant as view counts (>=)
        ("u4", "view", t0), ("u4", "click", t0),
    ]
    df = spark.createDataFrame(rows, "user_id STRING, event_type STRING, ts TIMESTAMP")
    out = {r["user_id"]: r for r in df.transform(
        t("funnel", on=["user_id"], stage_col="event_type",
          stages=["view", "click", "purchase"])
    ).collect()}
    assert len(out) == 4  # one row per user
    assert out["u1"]["stage1_ts"] == t0 and out["u1"]["stage3_ts"] == t0 + 2 * h
    assert out["u2"]["stage1_ts"] == t0 + h and out["u2"]["stage2_ts"] is None
    assert out["u3"]["stage2_ts"] is None and out["u3"]["stage3_ts"] is None
    assert out["u4"]["stage2_ts"] == t0
    with pytest.raises(ValueError):
        t("funnel", on=["user_id"], stage_col="event_type", stages=[])


def test_cohort_retention_week_offsets(spark):
    import datetime as dt

    w0 = dt.datetime(2024, 1, 1)   # a Monday
    d = dt.timedelta(days=1)
    rows = [
        ("u1", w0), ("u1", w0 + 2 * d),        # week 0 twice -> counted once
        ("u1", w0 + 8 * d),                    # week 1
        ("u2", w0 + 8 * d), ("u2", w0 + 15 * d),  # cohort week1, back week2
    ]
    df = spark.createDataFrame(rows, "user_id STRING, ts TIMESTAMP")
    out = {(r["cohort"].isoformat(), r["period_offset"]): r["n_active"]
           for r in df.transform(t("cohort_retention", on=["user_id"])).collect()}
    assert out == {
        ("2024-01-01", 0): 1, ("2024-01-01", 1): 1,
        ("2024-01-08", 0): 1, ("2024-01-08", 1): 1,
    }


def test_robust_scale_median_mad(spark):
    """Median/MAD scaling: values 1..9 + outlier 1000 — median 5.5, MAD is
    outlier-insensitive; the outlier's robust score stays finite and the
    in-range scores match the hand computation. Zero-MAD group -> NULL."""
    rows = [("a", float(i)) for i in range(1, 10)] + [("a", 1000.0)] + [
        ("b", 3.0), ("b", 3.0), ("b", 3.0)]
    df = spark.createDataFrame(rows, "grp STRING, v DOUBLE")
    out = df.transform(
        t("robust_scale", value_col="v", group_cols=["grp"], method="exact")
    ).collect()
    a = {r["v"]: r["v_robust"] for r in out if r["grp"] == "a"}
    # median of 1..9,1000 = 5.5; deviations 0.5..4.5,994.5 -> MAD = 2.5
    assert a[5.0] == pytest.approx((5.0 - 5.5) / (1.4826 * 2.5))
    assert a[1000.0] == pytest.approx((1000.0 - 5.5) / (1.4826 * 2.5))
    assert all(r["v_robust"] is None for r in out if r["grp"] == "b")
    with pytest.raises(ValueError):
        t("robust_scale", value_col="v", method="nope")


def test_quantile_summary_exact_and_approx(spark):
    """Exact path matches hand-computed linear-interp quantiles; approx
    sketch agrees with exact on a small group; NULLs ignored; one p-column
    per prob with pNN naming (0.999 -> p99_9)."""
    rows = [("a", float(i)) for i in range(1, 11)] + [("a", None), ("b", 7.0)]
    df = spark.createDataFrame(rows, "grp STRING, v DOUBLE")
    out = {
        r["grp"]: r
        for r in df.transform(
            t("quantile_summary", value_col="v", group_cols=["grp"],
              probs=[0.5, 0.9], method="exact")
        ).collect()
    }
    assert out["a"]["n"] == 10  # NULL not counted
    assert out["a"]["p50"] == pytest.approx(5.5)  # interp between 5 and 6
    assert out["a"]["p90"] == pytest.approx(9.1)  # 9 + 0.1*(10-9)
    assert out["b"]["p50"] == pytest.approx(7.0)
    approx = {
        r["grp"]: r
        for r in df.transform(
            t("quantile_summary", value_col="v", group_cols=["grp"],
              probs=[0.5, 0.9])
        ).collect()
    }
    # sketch at default accuracy is exact-rank on 10 values (no interp)
    assert abs(approx["a"]["p50"] - 5.5) <= 0.5
    cols = df.transform(
        t("quantile_summary", value_col="v", probs=[0.999])
    ).columns
    assert "p99_9" in cols
    with pytest.raises(ValueError):
        t("quantile_summary", value_col="v", method="nope")
    with pytest.raises(ValueError):
        t("quantile_summary", value_col="v", probs=[1.5])


def test_pivot_agg_explicit_values(spark):
    """Pivot with explicit values: one column per value×agg with
    <value>_<alias> naming (even for a single agg), empty cells NULL,
    values absent from the list are ignored, and the plan contains no
    second value-discovery aggregation."""
    df = spark.createDataFrame(
        [(1, "a", 10.0), (1, "a", 5.0), (1, "b", 2.0), (2, "b", 7.0),
         (2, "zzz", 1.0)],
        "k INT, typ STRING, v DOUBLE",
    )
    out = df.transform(
        t("pivot_agg", on=["k"], pivot_col="typ", values=["a", "b"],
          aggs={"n": "count(1)", "s": "sum(v)"})
    )
    assert sorted(out.columns) == ["a_n", "a_s", "b_n", "b_s", "k"]
    rows = {r["k"]: r for r in out.collect()}
    assert rows[1]["a_n"] == 2 and rows[1]["a_s"] == 15.0
    assert rows[2]["a_n"] is None  # empty cell -> NULL, not 0
    assert rows[2]["b_s"] == 7.0
    assert "zzz_n" not in out.columns  # only explicit values pivot

    single = df.transform(
        t("pivot_agg", on=["k"], pivot_col="typ", values=["a"],
          aggs={"n": "count(1)"})
    )
    assert sorted(single.columns) == ["a_n", "k"]
    with pytest.raises(ValueError):
        t("pivot_agg", on=["k"], pivot_col="typ", values=[], aggs={"n": "count(1)"})
    with pytest.raises(ValueError):
        t("pivot_agg", on=["k"], pivot_col="typ", values=["a"], aggs={})


def test_salted_join_matches_plain_join(spark):
    """Salted join is row-for-row the plain join: inner and left semantics,
    skewed left (90% one key), duplicate left rows, unmatched keys on both
    sides. The salt column never leaks into the output."""
    left = spark.createDataFrame(
        [(1, i) for i in range(90)] + [(2, 900), (2, 901), (3, 999)],
        "k INT, payload INT",
    )
    right = spark.createDataFrame(
        [(1, "hot"), (2, "warm"), (4, "unmatched")], "k INT, label STRING"
    )
    for how in ("inner", "left"):
        out = left.transform(t("salted_join", right=right, on=["k"],
                               how=how, salt=4))
        exp = left.join(right, on=["k"], how=how)
        assert "__salt" not in out.columns
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, exp.collect()))
    with pytest.raises(ValueError):
        t("salted_join", right=right, on=["k"], how="full")
    with pytest.raises(ValueError):
        t("salted_join", right=right, on=["k"], salt=0)


def test_salted_join_salts_the_exchange(spark):
    """The physical join keys include the salt: with broadcast disabled the
    exchange hash-partitions on (k, __salt), spreading a hot key over
    multiple reducers."""
    left = spark.createDataFrame([(1, i) for i in range(50)], "k INT, p INT")
    right = spark.createDataFrame([(1, "x"), (2, "y")], "k INT, lab STRING")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = left.transform(t("salted_join", right=right, on=["k"], salt=4))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "__salt" in plan
        # the hot key's rows really do land in >1 salt bucket
        n_buckets = (
            left.withColumn(
                "__salt",
                F.pmod(F.xxhash64("k", "p"), F.lit(4)),
            ).filter("k = 1").select("__salt").distinct().count()
        )
        assert n_buckets > 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_join_with_wrappers_resolve_spec_ids(spark):
    """Pure-JSON ACON variants: *_with resolve the right side from the
    dataflow dict; for EVERY contextual datapipes op, an unknown spec_id
    raises on application with the op name."""
    import re

    from lakehouse_engine_spark.datapipes.registry import CONTEXTUAL

    left = spark.createDataFrame([(1, 10), (2, 20)], "k INT, p INT")
    right = spark.createDataFrame([(1, "x")], "k INT, lab STRING")
    fn = TransformerFactory.get_transformer(
        TransformerSpec("salted_join_with", {"right_id": "dim", "on": ["k"]}),
        {"dim": right},
    )
    assert sorted(map(tuple, fn(left).collect())) == [(1, 10, "x")]
    assert len(CONTEXTUAL) == 18
    for name, factory in sorted(CONTEXTUAL.items()):
        bad = TransformerFactory.get_transformer(
            TransformerSpec(name, {factory.id_arg: "nope"}), {"dim": right}
        )
        with pytest.raises(
            ValueError, match=re.escape(name) + ": unknown spec_id 'nope'"
        ):
            bad(left)
    with pytest.raises(TypeError, match="asof_join_with"):
        t("asof_join_with", on=["k"])


def test_no_unset_broadcast_knobs_in_registered_ops():
    """Size choices live in ``driver_tier`` and ``parallel``, not in
    per-call options: no registered op takes a ``broadcast_*`` parameter,
    a ``*threshold_rows`` / ``max_broadcast_*`` size knob or a
    ``target_partition_mb`` — except ``text_bm25_topk.broadcast_queries``,
    which dp83 pins to True (saving the probe job) and the scale probes
    pin to False."""
    import inspect

    import lakehouse_engine_spark.datapipes  # noqa: F401 — fills the registry
    from lakehouse_engine_spark.datapipes.registry import SIMPLE

    found = []
    for name, factory in sorted(SIMPLE.items()):
        for p in inspect.signature(factory).parameters.values():
            size_knob = (
                p.name.startswith("broadcast_")
                or p.name.endswith("threshold_rows")
                or p.name.startswith("max_broadcast_")
                or p.name == "target_partition_mb"
            )
            if size_knob:
                found.append(f"{name}.{p.name}")
    assert found == ["text_bm25_topk.broadcast_queries"]


def test_size_gates_count_only_in_driver_tier():
    """A size gate is an ordering comparison against ``.count()``; under
    ``datapipes/`` only ``driver_tier.py`` makes one (``fits_broadcast``),
    so every broadcast decision shares one limit. Spark-free: parses the
    sources."""
    import ast
    import pathlib

    import lakehouse_engine_spark.datapipes as dp

    def is_count(node):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "count"
            and not node.args
        )

    ordering = (ast.Lt, ast.LtE, ast.Gt, ast.GtE)
    found = [
        f"{path.name}:{node.lineno}"
        for path in sorted(pathlib.Path(dp.__file__).parent.glob("*.py"))
        if path.name != "driver_tier.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Compare)
        and any(isinstance(op, ordering) for op in node.ops)
        and any(is_count(c) for c in ast.walk(node))
    ]
    assert found == []


def test_datapipes_hold_no_cache_past_return():
    """The sharing rule of ``datapipes/materialize.py``, checked on the
    sources: a ``.persist(`` outside ``materialize.py`` is assigned to a
    name that its own function unpersists in a ``finally``, and
    ``localCheckpoint(`` appears only in ``materialize.py`` and
    ``dedup._commit_state``. Spark-free: parses the sources."""
    import ast
    import pathlib

    import lakehouse_engine_spark.datapipes as dp

    def own_nodes(fn):
        # fn's nodes, without those of the functions nested in it
        todo = list(ast.iter_child_nodes(fn))
        while todo:
            node = todo.pop()
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield node
                todo.extend(ast.iter_child_nodes(node))

    def calls(nodes, attr):
        return [
            n for n in nodes
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == attr
        ]

    found = []
    for path in sorted(pathlib.Path(dp.__file__).parent.glob("*.py")):
        if path.name == "materialize.py":
            continue
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            nodes = list(own_nodes(fn))
            where = f"{path.name}:{fn.name}"
            if calls(nodes, "localCheckpoint") and where != "dedup.py:_commit_state":
                found.append(f"{where} localCheckpoint")
            released = {
                c.func.value.id
                for n in nodes
                if isinstance(n, ast.Try)
                for c in calls([m for s in n.finalbody for m in ast.walk(s)], "unpersist")
                if isinstance(c.func.value, ast.Name)
            }
            persisted = [
                (n.targets, c)
                for n in nodes
                if isinstance(n, ast.Assign)
                for c in calls(ast.walk(n.value), "persist")
            ]
            for targets, _ in persisted:
                names = {t.id for t in targets if isinstance(t, ast.Name)}
                if not names or not names <= released:
                    found.append(f"{where} persist without a finally unpersist")
            if len(calls(nodes, "persist")) > len(persisted):
                found.append(f"{where} persist not assigned to a name")
    assert found == []


def test_driver_built_threshold_tables_take_no_broadcast_option():
    """unimax/temperature thresholds come from at most MAX_MIX_GROUPS
    driver rows and token_budget_sample's from one row per group; all
    three always broadcast, so the option is gone (a TypeError)."""
    from lakehouse_engine_spark.datapipes import sampling

    for op in (sampling.unimax_sample, sampling.temperature_sample):
        with pytest.raises(TypeError, match="broadcast_thresholds"):
            op(budget_tokens=10, broadcast_thresholds=True)
    with pytest.raises(TypeError, match="broadcast_thresholds"):
        sampling.token_budget_sample(
            group_col="lang", token_col="n", budgets={},
            broadcast_thresholds=False,
        )


def test_cc_keep_best_selects_argmax(spark):
    """keep="best": each duplicate cluster keeps its argmax(best_by) member
    (ties -> smallest id); singletons always survive; invalid keep/best_by
    raise."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),                    # cluster {1,2,3}: 3 is longest
        (2, base + " tail"),
        (3, base + " much longer tail here"),
        (10, "completely different text about spark partitions and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING").withColumn(
        "n_chars", F.length("text")
    )
    out = df.transform(
        t("dedup_connected_components", num_hashes=12, bands=6,
          shingle_size=2, keep="best", best_by="n_chars")
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [3, 10]
    # tie on score -> smallest id wins
    tie = spark.createDataFrame(
        [(5, base), (6, base)], "doc_id LONG, text STRING"
    ).withColumn("n_chars", F.length("text"))
    kept_tie = sorted(
        r["doc_id"]
        for r in tie.transform(
            t("dedup_connected_components", num_hashes=12, bands=6,
              shingle_size=2, keep="best", best_by="n_chars")
        ).collect()
    )
    assert kept_tie == [5]
    # STRING ids: the pre-round-5 argmax negated the id (string → NULL
    # under non-ANSI mode → whole component dropped); row_number ordering
    # is type-agnostic, ties -> lexicographically smallest id
    sdf = spark.createDataFrame(
        [("doc-b", base), ("doc-a", base + " tail"),
         ("doc-c", base + " much longer tail here"),
         ("doc-z", "completely different text about spark shuffles")],
        "doc_id STRING, text STRING",
    ).withColumn("n_chars", F.length("text"))
    kept_s = sorted(
        r["doc_id"]
        for r in sdf.transform(
            t("dedup_connected_components", num_hashes=12, bands=6,
              shingle_size=2, keep="best", best_by="n_chars",
              id_col="doc_id")
        ).collect()
    )
    assert kept_s == ["doc-c", "doc-z"]
    with pytest.raises(ValueError):
        t("dedup_connected_components", keep="best")
    with pytest.raises(ValueError):
        t("dedup_connected_components", keep="nope")


def test_cluster_sample_sqrt_cap_and_determinism(spark):
    """sqrt cap: a bucket of n keeps ceil(sqrt(n)); flat n_per_bucket caps
    flat; selection is deterministic across runs; survivors carry their
    bucket id."""
    import math

    # 3 tight clusters of different sizes along distinct directions
    rows = []
    vid = 0
    for c, (n, base) in enumerate([(16, [10.0, 0.0]), (4, [0.0, 10.0]),
                                   (1, [-10.0, -10.0])]):
        for i in range(n):
            rows.append((vid, [base[0] + i * 1e-3, base[1] + i * 1e-3]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = df.transform(
        t("cluster_sample", num_planes=4, dim=2)
    )
    got = out.select("vec_id", "cluster_bucket").collect()
    assert "cluster_bucket" in out.columns
    by_bucket = {}
    for r in got:
        by_bucket.setdefault(r["cluster_bucket"], []).append(r["vec_id"])
    # every bucket obeys ceil(sqrt(bucket population)) — recompute pops
    pops = {}
    for r in df.transform(
        t("cluster_sample", num_planes=4, dim=2, n_per_bucket=10**9)
    ).collect():
        pops[r["cluster_bucket"]] = pops.get(r["cluster_bucket"], 0) + 1
    for b, kept in by_bucket.items():
        assert len(kept) == math.ceil(math.sqrt(pops[b]))
    # deterministic across runs
    again = sorted(
        r["vec_id"]
        for r in df.transform(t("cluster_sample", num_planes=4, dim=2)).collect()
    )
    assert again == sorted(r["vec_id"] for r in got)
    # flat cap
    flat = df.transform(t("cluster_sample", num_planes=4, dim=2, n_per_bucket=2))
    for n in flat.groupBy("cluster_bucket").count().collect():
        assert n["count"] <= 2
    with pytest.raises(ValueError):
        t("cluster_sample", n_per_bucket=0)


def test_cdc_chunk_content_defined_boundaries(spark):
    """CDC chunking: chunks tile the document exactly; boundaries depend on
    content, so a prefix insertion leaves the shared suffix chunked
    identically (the edit-robustness property fixed-size windows lack);
    empty docs vanish; args validate."""
    toks = [f"tok{i * 7919 % 1000}" for i in range(200)]
    doc_a = " ".join(toks)
    doc_b = " ".join(["inserted", "prefix", "tokens"] + toks)
    df = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, "   ")], "doc_id LONG, text STRING"
    )
    out = df.transform(t("text_cdc_chunk", window=4, divisor=4)).collect()
    a = sorted((r["chunk_idx"], r["chunk_text"]) for r in out if r["doc_id"] == 1)
    b = sorted((r["chunk_idx"], r["chunk_text"]) for r in out if r["doc_id"] == 2)
    assert not any(r["doc_id"] == 3 for r in out)  # empty doc -> no chunks
    # chunks tile: concatenation restores the token stream
    assert " ".join(txt for _, txt in a) == doc_a
    assert " ".join(txt for _, txt in b) == " ".join(
        ["inserted", "prefix", "tokens"] + toks
    )
    assert len(a) > 5  # divisor=4 on 200 tokens: many chunks
    # edit robustness: most of A's chunks reappear verbatim in B
    a_txt = [txt for _, txt in a]
    b_txt = {txt for _, txt in b}
    shared = sum(1 for txt in a_txt if txt in b_txt)
    assert shared >= len(a_txt) - 2  # only the chunk hit by the edit differs
    with pytest.raises(ValueError):
        t("text_cdc_chunk", window=0)
    with pytest.raises(ValueError):
        t("text_cdc_chunk", divisor=1)


def test_fuzzy_join_blocking_matches_naive(spark):
    """The banded blocking join returns exactly the naive filtered cross
    join: matches within distance, across length bands, no duplicates;
    distance column exact; null blocking keys drop."""
    left = spark.createDataFrame(
        [(1, "b", "kitten"), (2, "b", "abc"), (3, "b", "zzzzzz"),
         (4, None, "kitten")],
        "lid INT, blk STRING, lname STRING",
    )
    right = spark.createDataFrame(
        [(10, "b", "sitting"), (11, "b", "kitten"), (12, "b", "ab"),
         (13, "c", "kitten")],
        "rid INT, blk STRING, rname STRING",
    )
    out = left.transform(
        t("fuzzy_join", right=right, left_col="lname", right_col="rname",
          max_distance=3, block_on=["blk"])
    )
    got = sorted((r["lid"], r["rid"], r["distance"]) for r in out.collect())
    import itertools

    naive = sorted(
        (l["lid"], r["rid"], lev)
        for l, r in itertools.product(left.collect(), right.collect())
        if l["blk"] is not None and l["blk"] == r["blk"]
        for lev in [_lev(l["lname"], r["rname"])]
        if lev <= 3
    )
    assert got == naive
    assert (1, 10, 3) in got       # kitten->sitting crosses a length band
    assert not any(l == 4 for l, _, _ in got)  # null block key drops
    with pytest.raises(ValueError):
        t("fuzzy_join", right=right, left_col="a", right_col="b",
          max_distance=-1)


def _lev(a, b):
    import numpy as np

    d = np.arange(len(b) + 1)
    for i, ca in enumerate(a, 1):
        prev_diag, d[0] = d[0], i
        for j, cb in enumerate(b, 1):
            prev_diag, d[j] = d[j], min(
                d[j] + 1, d[j - 1] + 1, prev_diag + (ca != cb)
            )
    return int(d[len(b)])


def test_scd2_build_versions_and_noop_suppression(spark):
    """SCD2: no-op updates collapse, validity chains are contiguous, the
    last version per key is current; change_only=False keeps every row."""
    from datetime import datetime

    def ts(h):
        return datetime(2024, 1, 1, h)

    rows = [
        (1, ts(1), "A"), (1, ts(2), "A"),       # no-op -> suppressed
        (1, ts(3), "B"), (1, ts(4), "A"),       # A again: new version
        (2, ts(1), "X"),
    ]
    df = spark.createDataFrame(rows, "k INT, ts TIMESTAMP_NTZ, state STRING")
    out = sorted(
        (r["k"], r["valid_from"].hour, r["valid_to"].hour if r["valid_to"] else None,
         r["state"], r["is_current"])
        for r in df.transform(
            t("scd2_build", key_cols=["k"], ts_col="ts", attr_cols=["state"])
        ).collect()
    )
    assert out == [
        (1, 1, 3, "A", False),
        (1, 3, 4, "B", False),
        (1, 4, None, "A", True),
        (2, 1, None, "X", True),
    ]
    full = df.transform(
        t("scd2_build", key_cols=["k"], ts_col="ts", attr_cols=["state"],
          change_only=False)
    )
    assert full.count() == 5
    with pytest.raises(ValueError):
        t("scd2_build", key_cols=[], ts_col="ts")


def test_merge_intervals_union_semantics(spark):
    """Overlap chains collapse to one span; touching intervals merge by
    default but split with merge_touching=False; nested intervals absorb;
    disjoint spans stay separate; n_merged counts members."""
    rows = [
        ("a", 0, 10), ("a", 5, 12), ("a", 12, 20),   # chain + touching
        ("a", 30, 40), ("a", 32, 35),                # nested absorbs
        ("a", 50, 55),
        ("b", 0, 1),
    ]
    df = spark.createDataFrame(rows, "k STRING, s INT, e INT")
    out = sorted(
        (r["k"], r["s"], r["e"], r["n_merged"])
        for r in df.transform(
            t("merge_intervals", on=["k"], start_col="s", end_col="e")
        ).collect()
    )
    assert out == [
        ("a", 0, 20, 3), ("a", 30, 40, 2), ("a", 50, 55, 1), ("b", 0, 1, 1)
    ]
    split = sorted(
        (r["s"], r["e"])
        for r in df.filter("k = 'a'").transform(
            t("merge_intervals", on=["k"], start_col="s", end_col="e",
              merge_touching=False)
        ).collect()
    )
    assert (12, 20) in split  # touching no longer merges
    with pytest.raises(ValueError):
        t("merge_intervals", on=[])


def test_bpe_train_matches_reference_trainer(spark):
    """Canonical BPE (merges_per_round=1) on the classic toy corpus
    reproduces the reference merge sequence exactly (count desc, pair asc
    tie-break); encoding with the learned table reconstructs each word."""
    text = ("low low low low low lower lower newest newest newest newest "
            "newest newest widest widest widest")
    df = spark.createDataFrame([(1, text)], "doc_id LONG, text STRING")
    merges = df.transform(t("bpe_train", num_merges=8))
    got = [(r["left"], r["right"]) for r in merges.orderBy("rank").collect()]
    assert got == [
        ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"),
        ("lo", "w"), ("e", "w"), ("ew", "est</w>"), ("n", "ewest</w>"),
    ]
    enc = df.transform(t("bpe_encode", merges=merges)).collect()[0]
    # pieces reassemble the exact token stream with </w> at word ends
    rebuilt = "".join(enc["bpe_tokens"]).replace("</w>", " ").split()
    assert rebuilt == text.split()
    assert enc["bpe_tokens_n"] == len(enc["bpe_tokens"])
    # 'newest' collapsed to a single piece by rank-7
    assert "newest</w>" in enc["bpe_tokens"]
    with pytest.raises(ValueError):
        t("bpe_train", num_merges=0)
    with pytest.raises(ValueError):
        t("bpe_train", merges_per_round=0)


def test_bpe_batched_rounds_yield_valid_encoder(spark):
    """merges_per_round>1 batches non-interacting pairs: the merge table
    may reorder vs canonical, but encoding still reconstructs every word
    and compresses repeated morphology."""
    text = " ".join(
        ["internationalization"] * 6 + ["internal"] * 4 + ["national"] * 5
    )
    df = spark.createDataFrame([(1, text)], "doc_id LONG, text STRING")
    merges = df.transform(t("bpe_train", num_merges=12, merges_per_round=4))
    assert merges.count() == 12
    # picked pairs within a round never share a symbol (batching contract)
    ranks = [
        (r["rank"], r["left"], r["right"])
        for r in merges.orderBy("rank").collect()
    ]
    enc = df.transform(t("bpe_encode", merges=merges)).collect()[0]
    rebuilt = "".join(enc["bpe_tokens"]).replace("</w>", " ").split()
    assert rebuilt == text.split()
    assert enc["bpe_tokens_n"] < sum(len(w) + 1 for w in text.split())


def test_bpe_encode_handles_unseen_words(spark):
    """Encoding a corpus containing words absent from training falls back
    to finer pieces (ultimately characters) — never drops or errors."""
    train = spark.createDataFrame([("aaa aaa aaa bbb",)], "text STRING")
    merges = train.transform(t("bpe_train", num_merges=3))
    test = spark.createDataFrame([(1, "aaa zzz qqq")], "doc_id LONG, text STRING")
    enc = test.transform(t("bpe_encode", merges=merges)).collect()[0]
    rebuilt = "".join(enc["bpe_tokens"]).replace("</w>", " ").split()
    assert rebuilt == ["aaa", "zzz", "qqq"]


def test_trend_fit_recovers_known_line(spark):
    """Exact line y=3x+7 -> slope 3, intercept 7, r2=1; noisy constant-x
    group degenerates to NULLs; constant-y group gets slope 0 and NULL
    r2."""
    rows = (
        [("a", float(x), 3.0 * x + 7.0) for x in range(10)]
        + [("b", 5.0, float(v)) for v in (1, 2, 3)]        # var(x)=0
        + [("c", float(x), 42.0) for x in range(4)]        # var(y)=0
    )
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE, y DOUBLE")
    out = {
        r["g"]: r
        for r in df.transform(
            t("trend_fit", x_col="x", y_col="y", group_cols=["g"])
        ).collect()
    }
    assert out["a"]["slope"] == pytest.approx(3.0)
    assert out["a"]["intercept"] == pytest.approx(7.0)
    assert out["a"]["r2"] == pytest.approx(1.0)
    assert out["b"]["slope"] is None and out["b"]["r2"] is None
    assert out["c"]["slope"] == pytest.approx(0.0)
    assert out["c"]["r2"] is None


def test_histogram_buckets_and_clamping(spark):
    """Explicit bounds: correct bucket widths, out-of-range clamps into the
    edge buckets, NULLs dropped, per-group grouping; auto-bounds path and
    arg validation."""
    rows = [("a", -5.0), ("a", 0.0), ("a", 9.9), ("a", 10.0), ("a", 25.0),
            ("a", 99.9), ("a", 150.0), ("a", None), ("b", 55.0)]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    out = {
        (r["g"], r["bucket"]): (r["lo"], r["hi"], r["n"])
        for r in df.transform(
            t("histogram", value_col="v", bins=10, min_val=0.0,
              max_val=100.0, group_cols=["g"])
        ).collect()
    }
    assert out[("a", 0)] == (0.0, 10.0, 3)     # -5 clamps in; 9.9 in; 0.0 in
    assert out[("a", 1)][2] == 1               # 10.0 -> bucket 1 (half-open)
    assert out[("a", 9)] == (90.0, 100.0, 2)   # 99.9 + clamped 150.0
    assert out[("a", 2)] == (20.0, 30.0, 1)    # 25.0
    assert out[("b", 5)][2] == 1
    auto = df.filter("g = 'b'").transform(t("histogram", value_col="v", bins=2))
    assert auto.agg({"n": "sum"}).first()[0] == 1
    with pytest.raises(ValueError):
        t("histogram", value_col="v", bins=0)
    with pytest.raises(ValueError):
        t("histogram", value_col="v", min_val=0.0)


def test_trend_fit_ignores_incomplete_pairs(spark):
    """Rows with NULL x or y are excluded from n AND the moments — a NULL
    row must not skew the fit."""
    rows = [("a", 0.0, 7.0), ("a", 1.0, 10.0), ("a", None, 99.0),
            ("a", 2.0, None), ("a", 2.0, 13.0)]
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE, y DOUBLE")
    out = df.transform(
        t("trend_fit", x_col="x", y_col="y", group_cols=["g"])
    ).collect()[0]
    assert out["n"] == 3
    assert out["slope"] == pytest.approx(3.0)
    assert out["intercept"] == pytest.approx(7.0)


def test_bpe_encode_keeps_duplicates_and_empty_docs(spark):
    """Reassembly keys on id_col: duplicate TEXT rows (distinct ids) each
    keep their own correct token stream, and token-less documents survive
    with an empty array instead of vanishing."""
    train = spark.createDataFrame([(0, "aaa bbb aaa bbb")], "doc_id LONG, text STRING")
    merges = train.transform(t("bpe_train", num_merges=3))
    corpus = spark.createDataFrame(
        [(1, "aaa bbb"), (2, "aaa bbb"), (3, "   "), (4, "aaa")],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r for r in corpus.transform(
        t("bpe_encode", merges=merges)).collect()}
    assert len(rows) == 4
    assert rows[1]["bpe_tokens"] == rows[2]["bpe_tokens"]
    assert rows[1]["bpe_tokens_n"] == rows[2]["bpe_tokens_n"] > 0
    assert rows[3]["bpe_tokens"] == [] and rows[3]["bpe_tokens_n"] == 0
    rebuilt = "".join(rows[1]["bpe_tokens"]).replace("</w>", " ").split()
    assert rebuilt == ["aaa", "bbb"]


def test_round4_aggregating_ops_are_streaming_gated(spark):
    """histogram/trend_fit/bpe_* and the contextual asof wrapper are in
    the batch-only set, so the streaming planner relocates them into
    foreachBatch instead of letting the stream plan fail."""
    from lakehouse_engine_spark.transformers.transformer_factory import (
        UNSUPPORTED_STREAMING_TRANSFORMERS as GATED,
    )

    for name in ("histogram", "trend_fit", "bpe_train", "bpe_encode",
                 "bpe_encode_with", "asof_join_with", "quantile_summary",
                 "pivot_agg", "merge_intervals", "scd2_build",
                 "weighted_sample_k", "lexical_diversity", "snapshot_diff",
                 "snapshot_diff_with", "schema_drift", "schema_drift_with",
                 "event_transitions", "gap_fill"):
        assert name in GATED, name


def test_weighted_sample_k_exact_k_and_weight_bias(spark):
    """A-Res: exactly k per group, deterministic across runs, zero/NULL
    weights excluded, and across many seeds heavy items are selected far
    more often than light ones (weight-proportional without
    replacement)."""
    rows = [(i, "g", 100.0 if i < 5 else 1.0) for i in range(50)]
    rows += [(99, "g", None), (98, "g", 0.0)]
    df = spark.createDataFrame(rows, "id LONG, g STRING, w DOUBLE")
    picks = df.transform(
        t("weighted_sample_k", k=10, weight_col="w", id_col="id",
          group_cols=["g"], seed="a")
    )
    ids = sorted(r["id"] for r in picks.collect())
    assert len(ids) == 10 and 99 not in ids and 98 not in ids
    again = sorted(r["id"] for r in df.transform(
        t("weighted_sample_k", k=10, weight_col="w", id_col="id",
          group_cols=["g"], seed="a")).collect())
    assert again == ids
    heavy_hits = light_hits = 0
    for s in range(12):
        got = {r["id"] for r in df.transform(
            t("weighted_sample_k", k=10, weight_col="w", id_col="id",
              group_cols=["g"], seed=f"s{s}")).collect()}
        heavy_hits += sum(1 for i in got if i < 5)
        light_hits += sum(1 for i in got if 5 <= i < 50)
    # heavy items are 100x weight: near-certain picks (5/10 slots); light
    # fill the rest at ~5/45 each
    assert heavy_hits >= 0.9 * 5 * 12
    assert light_hits <= 12 * 10 - heavy_hits
    with pytest.raises(ValueError):
        t("weighted_sample_k", k=0, weight_col="w", id_col="id")


def test_lexical_diversity_exact_counts(spark):
    """Hand-computed: 'a a b' + 'a c' in one group -> N=5, V=3, counts
    (3,1,1) -> inv_simpson = 25/11; token-less group absent; case folds."""
    df = spark.createDataFrame(
        [("s1", "a A b"), ("s1", "a c"), ("s2", "   ")],
        "source STRING, text STRING",
    )
    out = {r["source"]: r for r in df.transform(
        t("lexical_diversity", group_cols=["source"])).collect()}
    assert list(out) == ["s1"]
    r = out["s1"]
    assert (r["n_tokens"], r["n_distinct"]) == (5, 3)
    assert r["ttr"] == pytest.approx(3 / 5)
    assert r["inv_simpson"] == pytest.approx(25 / 11)


def test_snapshot_diff_classification(spark):
    """added/removed/changed/unchanged by key with NULL-safe compares;
    rows mode lists the keys; summary counts them; validation."""
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        "k INT, s STRING, v DOUBLE",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),          # unchanged
         (2, "b", None),          # unchanged (NULL == NULL null-safely)
         (3, "c", 31.0),          # changed
         (5, "e", 50.0)],         # added; 4 removed
        "k INT, s STRING, v DOUBLE",
    )
    summary = {
        r["status"]: r["n"]
        for r in new.transform(
            t("snapshot_diff", right=old, key_cols=["k"])
        ).collect()
    }
    assert summary == {"unchanged": 2, "changed": 1, "added": 1, "removed": 1}
    rows = {
        r["k"]: r["status"]
        for r in new.transform(
            t("snapshot_diff", right=old, key_cols=["k"], mode="rows")
        ).collect()
    }
    assert rows == {1: "unchanged", 2: "unchanged", 3: "changed",
                    4: "removed", 5: "added"}
    with pytest.raises(ValueError):
        t("snapshot_diff", right=old, key_cols=[])
    with pytest.raises(ValueError):
        t("snapshot_diff", right=old, key_cols=["k"], mode="nope")


def test_schema_drift_statuses(spark):
    """added/removed/type_changed/null_drift/ok per column; threshold
    respected; dtypes reported from schema."""
    old = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0)], "k INT, s STRING, v DOUBLE"
    )
    new = spark.createDataFrame(
        [(1, None, 1), (2, "y", 2)], "k INT, s STRING, v INT"
    ).withColumn("w", F.lit(True))
    out = {r["column"]: r for r in new.transform(
        t("schema_drift", right=old)).collect()}
    assert out["k"]["status"] == "ok"
    assert out["s"]["status"] == "null_drift"      # 0% -> 50%
    assert out["v"]["status"] == "type_changed"
    assert out["v"]["old_type"] == "double" and out["v"]["new_type"] == "int"
    assert out["w"]["status"] == "added"
    loose = {r["column"]: r["status"] for r in new.transform(
        t("schema_drift", right=old, null_pct_threshold=60.0)).collect()}
    assert loose["s"] == "ok"                       # threshold respected


def test_linear_score_links_and_threshold(spark):
    """Hand-checked logistic and identity links; keep_above filters in the
    same stage; NULL features score NULL and drop under the threshold;
    validation."""
    import math

    df = spark.createDataFrame(
        [(1, 2.0, 1.0), (2, -2.0, 0.0), (3, None, 5.0)],
        "id INT, a DOUBLE, b DOUBLE",
    )
    out = {r["id"]: r["score"] for r in df.transform(
        t("linear_score", weights={"a": 1.0, "b": 0.5}, intercept=0.5)
    ).collect()}
    assert out[1] == pytest.approx(1 / (1 + math.exp(-(0.5 + 2.0 + 0.5))))
    assert out[2] == pytest.approx(1 / (1 + math.exp(-(0.5 - 2.0))))
    assert out[3] is None
    ident = {r["id"]: r["score"] for r in df.transform(
        t("linear_score", weights={"a": 2.0}, link="identity")
    ).collect()}
    assert ident[1] == pytest.approx(4.0)
    kept = [r["id"] for r in df.transform(
        t("linear_score", weights={"a": 1.0, "b": 0.5}, intercept=0.5,
          keep_above=0.5)
    ).collect()]
    assert kept == [1]  # id 2 scores < 0.5; id 3 NULL drops
    with pytest.raises(ValueError):
        t("linear_score", weights={})
    with pytest.raises(ValueError):
        t("linear_score", weights={"a": 1.0}, link="probit")


def test_event_transitions_counts_and_probs(spark):
    """Hand-checked sequence A->B->B->C per key 1 plus A->C for key 2;
    probabilities sum to 1 per from_event; n=1 keys yield no pairs."""
    from datetime import datetime

    def ts(h):
        return datetime(2024, 1, 1, h)

    rows = [(1, ts(1), "A"), (1, ts(2), "B"), (1, ts(3), "B"), (1, ts(4), "C"),
            (2, ts(1), "A"), (2, ts(2), "C"), (3, ts(1), "Z")]
    df = spark.createDataFrame(rows, "k INT, ts TIMESTAMP_NTZ, ev STRING")
    out = {(r["from_event"], r["to_event"]): (r["n"], r["p"]) for r in df.transform(
        t("event_transitions", on=["k"], event_col="ev", normalize=True)
    ).collect()}
    assert out[("A", "B")][0] == 1 and out[("A", "C")][0] == 1
    assert out[("B", "B")] == (1, 0.5) and out[("B", "C")] == (1, 0.5)
    assert out[("A", "B")][1] == pytest.approx(0.5)
    assert not any(f == "Z" for f, _ in out)
    import math

    by_from = {}
    for (f, _), (_, p) in out.items():
        by_from[f] = by_from.get(f, 0.0) + p
    assert all(math.isclose(v, 1.0) for v in by_from.values())
    with pytest.raises(ValueError):
        t("event_transitions", on=[], event_col="ev")


def test_gap_fill_materializes_quiet_buckets(spark):
    """Gaps inside each key's active span become rows with the fill value;
    nothing outside the span; aggregates correct in active buckets; fill
    defaults to NULL when not given."""
    from datetime import datetime

    rows = [("a", datetime(2024, 1, 1, 5), 10.0),
            ("a", datetime(2024, 1, 4, 7), 20.0),
            ("a", datetime(2024, 1, 4, 9), 5.0),
            ("b", datetime(2024, 2, 1, 0), 1.0)]
    df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP_NTZ, v DOUBLE")
    out = {(r["k"], str(r["bucket"])[:10]): (r["n"], r["s"]) for r in df.transform(
        t("gap_fill", on=["k"], ts_col="ts", step="1 day",
          aggs={"n": "CAST(count(1) AS LONG)", "s": "sum(v)"},
          fill={"n": 0, "s": 0.0})
    ).collect()}
    assert out[("a", "2024-01-01")] == (1, 10.0)
    assert out[("a", "2024-01-02")] == (0, 0.0)   # materialized quiet day
    assert out[("a", "2024-01-03")] == (0, 0.0)
    assert out[("a", "2024-01-04")] == (2, 25.0)
    assert ("a", "2024-01-05") not in out          # outside span
    assert out[("b", "2024-02-01")] == (1, 1.0)
    assert len([k for k in out if k[0] == "b"]) == 1
    nulls = df.transform(
        t("gap_fill", on=["k"], ts_col="ts", step="1 day",
          aggs={"n": "count(1)"})
    ).filter("n IS NULL").count()
    assert nulls == 2                              # default fill = NULL
    with pytest.raises(ValueError):
        t("gap_fill", on=[], ts_col="ts", step="1 day", aggs={"n": "count(1)"})
    with pytest.raises(ValueError):
        t("gap_fill", on=["k"], ts_col="ts", step="1 day", aggs={})
    with pytest.raises(ValueError):
        t("gap_fill", on=["k"], ts_col="ts", step="1 day",
          aggs={"n": "count(1)"}, max_buckets_per_key=0)


def test_gap_fill_pathological_span_fails_fast(spark):
    """A sparse key spanning years at a fine step must fail FAST with a
    named error from the executor-side guard — not die opaquely trying to
    materialize a 3×10⁸-element sequence array. The guard is part of the
    row expression (no extra pass/action), and a span just UNDER the cap
    still fills normally."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = [("k1", t0, 1.0), ("k1", t0 + timedelta(days=3650), 2.0)]
    df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP_NTZ, v DOUBLE")
    with pytest.raises(Exception, match="gap_fill: a key's grid needs"):
        df.transform(
            t("gap_fill", on=["k"], ts_col="ts", step="1 second",
              aggs={"n": "count(1)"}, max_buckets_per_key=100_000)
        ).count()
    # under the cap: normal dense fill
    ok = df.transform(
        t("gap_fill", on=["k"], ts_col="ts", step="1 day",
          aggs={"n": "CAST(count(1) AS LONG)"}, fill={"n": 0},
          max_buckets_per_key=100_000)
    )
    assert ok.count() == 3651


def test_asof_nearest_direction(spark):
    """nearest: picks the closer of backward/forward per row, tie goes
    backward (pandas merge_asof semantics); one-sided rows fall back to
    the available side; tolerance bounds the absolute distance."""
    left = spark.createDataFrame(
        [(1, 10), (2, 14), (3, 100), (4, 3)], "id INT, t LONG"
    ).selectExpr("id", "timestampadd(SECOND, t, TIMESTAMP_NTZ'2024-01-01') AS ts")
    right = spark.createDataFrame(
        [(5, "a"), (15, "b"), (40, "c")], "t LONG, lab STRING"
    ).selectExpr("timestampadd(SECOND, t, TIMESTAMP_NTZ'2024-01-01') AS ts",
                 "lab")
    l2 = left.withColumn("k", F.lit(1))
    r2 = right.withColumn("k", F.lit(1))
    res = {r["id"]: r["lab_matched"] for r in l2.transform(
        t("asof_join", right=r2, on=["k"], left_ts="ts",
          right_value_cols=["lab"], direction="nearest")
    ).collect()}
    assert res[1] == "a"   # 10: dist 5 back vs 5 fwd -> tie -> backward
    assert res[2] == "b"   # 14: 9 back vs 1 fwd
    assert res[3] == "c"   # 100: only backward candidates
    assert res[4] == "a"   # 3: only forward candidate
    tol = {r["id"]: r["lab_matched"] for r in l2.transform(
        t("asof_join", right=r2, on=["k"], left_ts="ts",
          right_value_cols=["lab"], direction="nearest",
          tolerance=F.expr("INTERVAL 10 SECONDS"))
    ).collect()}
    assert tol[3] is None  # 100 -> nearest is 60s away, beyond tolerance
    assert tol[1] == "a"


def test_text_clean_normalization(spark):
    """Control chars stripped (tab/newline kept), CRLF folded, zero-width
    removed, newline runs capped, space runs collapsed; toggles off leave
    text alone."""
    dirty = "a​b\x07c\r\nline2\n\n\n\nline3  \t  end\x00"
    df = spark.createDataFrame([(1, dirty)], "id INT, text STRING")
    out = df.transform(t("text_clean")).collect()[0]["text"]
    assert out == "abc\nline2\n\nline3 end"
    raw = df.transform(
        t("text_clean", strip_control=False, collapse_whitespace=False,
          strip_zero_width=False, max_consecutive_newlines=None,
          output_col="clean")
    ).collect()[0]
    assert raw["clean"] == dirty  # all toggles off: identity
    assert raw["text"] == dirty   # original untouched with output_col


def test_url_normalize_canonical_forms(spark):
    """Fragments stripped, scheme/host lowercased, default ports dropped
    (only for the matching scheme), tracking params removed, remaining
    params sorted, bare '?' dropped; path case and non-default ports
    preserved."""
    urls = [
        (1, "HTTP://Example.COM:80/Path/Page?utm_source=x&b=2&a=1#frag"),
        (2, "https://example.com:443/?gclid=abc"),
        (3, "https://example.com:8443/p?z=1&y=2"),
        (4, "http://EXAMPLE.com/Path?a=1&b=2"),
    ]
    df = spark.createDataFrame(urls, "id INT, url STRING")
    out = {r["id"]: r["url"] for r in df.transform(t("url_normalize")).collect()}
    assert out[1] == "http://example.com/Path/Page?a=1&b=2"
    assert out[2] == "https://example.com/"
    assert out[3] == "https://example.com:8443/p?y=2&z=1"  # port kept
    assert out[4] == "http://example.com/Path?a=1&b=2"


def test_review_fix_regressions(spark):
    """Round-4 review fixes: schemeless URLs pass through; empty tracking
    list strips nothing; quoted prefix doesn't break the plan; empty
    compare_cols = key-presence-only diff; empty new snapshot flags
    null_drift; HLL precision>6 uses the asymptotic alpha (estimate still
    lands in band)."""
    # url_normalize
    df = spark.createDataFrame(
        [(1, "example.com/page?a=1"), (2, "//cdn.example.com/x"),
         (3, "HTTP://A.com/p?utm_source=1&a=2")],
        "id INT, url STRING",
    )
    out = {r["id"]: r["url"] for r in df.transform(t("url_normalize")).collect()}
    assert out[1] == "example.com/page?a=1"       # passthrough
    assert out[2] == "//cdn.example.com/x"        # protocol-relative kept
    assert out[3] == "http://a.com/p?a=2"
    keep_all = df.filter("id = 3").transform(
        t("url_normalize", tracking_prefixes=[])
    ).collect()[0]["url"]
    assert keep_all == "http://a.com/p?a=2&utm_source=1"
    quoted = df.filter("id = 3").transform(
        t("url_normalize", tracking_prefixes=["a'b", "utm_"])
    ).collect()[0]["url"]
    assert quoted == "http://a.com/p?a=2"

    # snapshot_diff key-presence-only
    old = spark.createDataFrame([(1, "x"), (2, "y")], "k INT, v STRING")
    new = spark.createDataFrame([(1, "CHANGED"), (3, "z")], "k INT, v STRING")
    summary = {r["status"]: r["n"] for r in new.transform(
        t("snapshot_diff", right=old, key_cols=["k"], compare_cols=[])
    ).collect()}
    assert summary == {"unchanged": 1, "added": 1, "removed": 1}

    # schema_drift empty new side
    empty = spark.createDataFrame([], "k INT, v STRING")
    drift = {r["column"]: r["status"] for r in empty.transform(
        t("schema_drift", right=old)).collect()}
    assert drift == {"k": "null_drift", "v": "null_drift"}

    # HLL precision 8 (m=256): asymptotic alpha branch, reasonable estimate
    vals = spark.createDataFrame(
        [("d", f"v{i}") for i in range(3000)], "domain STRING, v STRING"
    )
    est = vals.transform(
        t("streaming_approx_distinct", on=["domain"], value_col="v",
          precision=8)
    ).collect()[0]["approx_distinct"]
    assert abs(est - 3000) / 3000 < 0.25


def test_bm25_topk_matches_reference_and_validates(spark):
    """BM25 pinned against a transparent pure-Python implementation of the
    SAME exact-integer formulation (scaled-bigint idf over integer-argument
    log10s, avgdl=(2T+D)//(2D), integer floor-division contributions) on a
    hand-sized corpus; plus ranking sanity, k validation, and the ACON
    contextual wrapper."""
    import math

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "spark shuffles and partitions and joins and broadcast joins"),
        (3, "the dog sleeps all day the dog dreams of the fox"),
        (4, "quantum computing with spark is not a thing"),
    ]
    queries = [(100, "fox dog"), (200, "spark joins")]

    def ref_bm25(docs, queries, k):
        toks = {d: s.lower().split() for d, s in docs}
        T = sum(len(w) for w in toks.values())
        D = len(toks)
        avgdl = (2 * T + D) // (2 * D)
        S = lambda x: math.floor(math.log10(x) * 10_000 + 0.5)
        out = []
        for qid, q in queries:
            scores = {}
            for term in set(q.lower().split()):
                df = sum(1 for w in toks.values() if term in w)
                if df == 0:
                    continue
                idf_s = S(2 * D + 2) - S(2 * df + 1)
                for d, w in toks.items():
                    tf = w.count(term)
                    if tf == 0:
                        continue
                    c = (idf_s * 44 * tf * avgdl) // (
                        20 * tf * avgdl + 6 * avgdl + 18 * len(w)
                    )
                    scores[d] = scores.get(d, 0) + c
            ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            out += [
                (qid, d, s / 10_000.0, r + 1)
                for r, (d, s) in enumerate(ranked)
            ]
        return sorted(out)

    docs_df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    qs_df = spark.createDataFrame(queries, "query_id LONG, query STRING")
    got = sorted(
        (r["query_id"], r["doc_id"], r["score"], r["doc_rank"])
        for r in docs_df.transform(
            t("text_bm25_topk", queries_df=qs_df, k=3)
        ).collect()
    )
    assert got == ref_bm25(docs, queries, 3)
    # doc 3 (dog x2 + fox) outranks doc 1 (one each) for "fox dog"
    by_q = {}
    for qid, d, s, r in got:
        by_q.setdefault(qid, []).append((r, d))
    assert sorted(by_q[100])[0] == (1, 3)
    with pytest.raises(ValueError):
        t("text_bm25_topk", queries_df=qs_df, k=0)
    # contextual wrapper resolves the query set from an upstream spec_id
    from lakehouse_engine_spark.datapipes.registry import CONTEXTUAL

    fn = CONTEXTUAL["text_bm25_topk_with"](
        {"qs": qs_df}, queries_with="qs", k=3
    )
    assert sorted(
        (r["query_id"], r["doc_id"], r["score"], r["doc_rank"])
        for r in docs_df.transform(fn).collect()
    ) == got
    with pytest.raises(ValueError):
        docs_df.transform(
            CONTEXTUAL["text_bm25_topk_with"]({}, queries_with="nope")
        )


def test_pagerank_matches_reference_replay(spark):
    """graph_pagerank pinned against a transparent pure-Python replay of
    the same exact-integer recurrence (damping 17/20, 1e12 scale, floor
    division) on a small graph; plus dangling-node mass leak semantics
    and validation."""
    SCALE = 10**12
    edges = [(1, 0), (2, 0), (3, 0), (0, 1), (1, 2), (2, 3), (3, 1)]

    def ref(edges, iters):
        nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
        n = len(nodes)
        outdeg = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        r = {v: SCALE // n for v in nodes}
        base = (3 * SCALE) // (20 * n)
        for _ in range(iters):
            inc = {v: 0 for v in nodes}
            for s, d in edges:
                inc[d] += (r[s] * 17) // (20 * outdeg[s])
            r = {v: base + inc[v] for v in nodes}
        return r

    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    got = {
        r["node"]: r["rank_s"]
        for r in df.transform(t("graph_pagerank", iterations=5)).collect()
    }
    assert got == ref(edges, 5)
    # dangling node: 9 has an in-edge but no out-edges — its mass leaks
    # (documented simple variant); totals strictly below SCALE
    d_edges = edges + [(0, 9)]
    ddf = spark.createDataFrame(d_edges, "src LONG, dst LONG")
    got_d = {
        r["node"]: r["rank_s"]
        for r in ddf.transform(t("graph_pagerank", iterations=3)).collect()
    }
    assert got_d == ref(d_edges, 3)
    assert sum(got_d.values()) < SCALE
    # ranks are probabilities-ish: the double column is rank_s / 1e12
    row = (
        df.transform(t("graph_pagerank", iterations=1))
        .filter("node = 0")
        .first()
    )
    assert row["rank"] == row["rank_s"] / 1e12
    with pytest.raises(ValueError):
        t("graph_pagerank", iterations=0)


def test_connected_components_matches_union_find(spark):
    """graph_connected_components (alternating large-star/small-star)
    pinned against a transparent union-find on seeded random graphs,
    plus the adversarial case the algorithm exists for: a long path
    graph whose diameter would stall naive min-propagation."""
    import random

    def uf(n, edges):
        p = list(range(n))

        def find(x):
            while p[x] != x:
                p[x] = p[p[x]]
                x = p[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                p[max(ra, rb)] = min(ra, rb)
        comp = {}
        for i in range(n):
            comp.setdefault(find(i), []).append(i)
        return {i: min(ms) for ms in comp.values() for i in ms}

    rng = random.Random(7)
    for _ in range(4):
        n = rng.choice([12, 40, 80])
        m = rng.randint(0, 2 * n)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        df = spark.createDataFrame(
            edges + [(i, i) for i in range(n)], "src LONG, dst LONG"
        )
        got = {
            r["node"]: r["component"]
            for r in df.transform(t("graph_connected_components")).collect()
        }
        assert got == uf(n, edges)
    # path graph: diameter n-1, converges in O(log^2 n) star rounds
    n = 512
    pdf = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src LONG, dst LONG"
    )
    got = pdf.transform(t("graph_connected_components")).collect()
    assert len(got) == n and all(r["component"] == 0 for r in got)


def test_connected_components_round_set_identity():
    """The r14 window-min round body (no groupBy+join, no intra-round
    distinct) produces the IDENTICAL per-round edge set as the original
    formulation, round for round — transparent Python models of both,
    on seeded random graphs plus hub/duplicate-heavy topologies where
    intra-round duplicate rows actually arise."""
    import random

    def old_round(E):  # E: set of (u, v) with u > v
        sym = list(E) + [(v, u) for (u, v) in E]
        lmin = {}
        for u, v in sym:
            lmin[u] = min(lmin.get(u, v), v)
        large = {
            (v, min(u, lmin[u])) for (u, v) in sym if v > u
        }
        smin = {}
        for u, v in large:
            smin[u] = min(smin.get(u, v), v)
        return {
            (v, smin[u]) for (u, v) in large if v != smin[u]
        } | {(u, m) for u, m in smin.items()}

    def new_round(E):  # multiset half-rounds, dedup only at the end
        sym = list(E) + [(v, u) for (u, v) in E]
        lmin = {}
        for u, v in sym:
            lmin[u] = min(lmin.get(u, v), v)
        large = [
            (v, min(u, lmin[u])) for (u, v) in sym if v > u
        ]  # list: duplicates kept, exactly like the un-distinct plan
        smin = {}
        for u, v in large:
            smin[u] = min(smin.get(u, v), v)
        return {
            (v, smin[u]) for (u, v) in large if v != smin[u]
        } | {(u, m) for u, m in smin.items()}

    rng = random.Random(21)
    graphs = [
        # hub: many leaves share mins -> duplicate (v, m) intermediates
        [(0, i) for i in range(1, 40)] + [(i, i + 1) for i in range(30, 50)],
        [(i, i + 1) for i in range(99)],  # path
        [(rng.randrange(60), rng.randrange(60)) for _ in range(150)],
        [(rng.randrange(8), rng.randrange(8)) for _ in range(60)],  # dense+dupes
    ]
    for g in graphs:
        E = {(max(a, b), min(a, b)) for a, b in g if a != b}
        for _ in range(12):
            got_old, got_new = old_round(E), new_round(E)
            assert got_new == got_old
            if got_old == E:
                break
            E = got_old


def test_connected_components_hub_duplicate_edges(spark):
    """Spark run of the r14 round body on the duplicate-producing hub
    topology (star + tail + parallel/reversed edges): labels match the
    closed-form answer and convergence stays inside the star bound."""
    edges = (
        [(0, i) for i in range(1, 40)]
        + [(i, 0) for i in range(1, 40)]  # reversed duplicates
        + [(39, 40), (40, 41), (41, 42)]  # tail hanging off a leaf
        + [(50, 50), (7, 7)]  # self-loops
    )
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    got = {
        r["node"]: r["component"]
        for r in df.transform(
            t("graph_connected_components", max_iterations=8)
        ).collect()
    }
    want = {i: 0 for i in range(43)}
    want[50] = 50
    assert got == want


def test_connected_components_contracts(spark):
    """String ids order lexicographically; self-loops register isolated
    nodes; duplicate/reversed edges are tolerated; empty input yields
    empty output; output column is renameable; validation raises."""
    df = spark.createDataFrame(
        [("b", "c"), ("c", "b"), ("b", "b"), ("x", "x"), ("a", "b")],
        "src STRING, dst STRING",
    )
    got = {
        r["node"]: r["cc"]
        for r in df.transform(
            t("graph_connected_components", output_col="cc")
        ).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x"}
    empty = spark.createDataFrame([], "src LONG, dst LONG")
    assert df.sparkSession is not None
    assert empty.transform(t("graph_connected_components")).count() == 0
    with pytest.raises(ValueError):
        t("graph_connected_components", max_iterations=0)


def test_embedding_pca_matches_numpy_replay(spark):
    """embedding_pca pinned against a transparent numpy replay of the
    same pipeline (1024-grid quantize → exact integer moments → sample
    covariance → eigh → sign-normalized top-k projection), plus the
    exact-moment stats mode and NULL-row exclusion."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=(200, 2)) @ rng.normal(size=(2, 5)) + 1.5
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(200)]
    df = spark.createDataFrame(
        rows + [(200, None)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    q = np.floor(base * 1024 + 0.5).astype(np.int64)

    stats = {
        (r["i"], r["j"]): r["sxy"]
        for r in df.transform(t("embedding_pca", mode="stats")).collect()
    }
    assert stats[(-1, -1)] == 200  # NULL row excluded
    assert stats[(2, -1)] == int(q[:, 2].sum())
    assert stats[(0, 3)] == int((q[:, 0] * q[:, 3]).sum())
    assert len(stats) == 5 * 6 // 2 + 5 + 1

    out = (
        df.transform(t("embedding_pca", n_components=2))
        .orderBy("vec_id")
        .collect()
    )
    assert out[200]["pca"] is None
    P = np.array([r["pca"] for r in out[:200]])
    qf = q / 1024.0
    cov = np.cov(qf.T, ddof=1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(-evals, kind="stable")[:2]
    V = evecs[:, order].T
    for c in range(2):
        am = int(np.argmax(np.abs(V[c])))
        if V[c, am] < 0:
            V[c] = -V[c]
    ref = (qf - qf.mean(axis=0)) @ V.T
    assert np.abs(P - ref).max() < 1e-9
    # projected variance along PC1 equals the top eigenvalue
    assert abs(P[:, 0].var(ddof=1) - evals[order[0]]) < 1e-9 * evals[order[0]]


def test_embedding_pca_contracts(spark):
    """Width/argument validation and tiny-corpus conventions: mixed
    widths raise, max_dim raises, a 1-row corpus projects to the origin,
    and n_components above the width clamps to the width."""
    import numpy as np

    mixed = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    with pytest.raises(ValueError, match="mixed embedding widths"):
        mixed.transform(t("embedding_pca"))
    wide = spark.createDataFrame(
        [(1, [0.5] * 8)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="max_dim"):
        wide.transform(t("embedding_pca", max_dim=4))
    single = wide.transform(t("embedding_pca", n_components=3)).first()
    assert single["pca"] == [0.0, 0.0, 0.0]
    clamp = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    ).transform(t("embedding_pca", n_components=9))
    assert len(clamp.first()["pca"]) == 2
    with pytest.raises(ValueError):
        t("embedding_pca", mode="nope")
    with pytest.raises(ValueError):
        t("embedding_pca", n_components=0)
    # whiten: unit variance per component, zero cross-covariance; a
    # degenerate (constant) direction maps to zero, not inf
    rng = np.random.default_rng(5)
    pts = rng.normal(size=(60, 2)) @ np.array([[3.0, 0.1, 0.0], [0.1, 0.5, 0.0]])
    wdf = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]]) for i in range(60)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    W = np.array(
        [
            r["pca"]
            for r in wdf.transform(
                t("embedding_pca", n_components=3, whiten=True)
            ).collect()
        ]
    )
    C = np.cov(W.T, ddof=1)
    assert abs(C[0, 0] - 1.0) < 1e-6 and abs(C[1, 1] - 1.0) < 1e-6
    assert abs(C[0, 1]) < 1e-6
    assert np.abs(W[:, 2]).max() == 0.0  # constant third dim -> zeroed


def test_frequent_terms_exact_vs_counter(spark, monkeypatch):
    """text_frequent_terms pinned against an exact Counter replay under
    conditions that FORCE Misra-Gries pruning (tiny counter budget,
    vocabulary far beyond 8*k), on a skewed corpus across multiple
    partitions; the shuffle-join arm must agree with the broadcast arm."""
    import math
    import random
    from collections import Counter

    from lakehouse_engine_spark.datapipes import driver_tier

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(400)]
    weights = [1.0 / (i + 1) for i in range(400)]
    docs = [
        (d, " ".join(rng.choices(vocab, weights, k=60))) for d in range(200)
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING").repartition(7)
    cnt = Counter()
    for _, txt in docs:
        cnt.update(txt.lower().split())
    total = sum(cnt.values())
    for support in (0.02, 0.005):
        thr = math.ceil(support * total)
        ref = {w: c for w, c in cnt.items() if c >= thr}
        got = {
            r["term"]: r["n"]
            for r in df.transform(
                t("text_frequent_terms", min_support=support)
            ).collect()
        }
        assert got == ref, f"support={support}"
    with monkeypatch.context() as mp:  # shuffle-join arm
        mp.setattr(driver_tier, "BROADCAST_MAX_ROWS", 0)
        shuffled = {
            r["term"]: r["n"]
            for r in df.transform(
                t("text_frequent_terms", min_support=0.02)
            ).collect()
        }
    assert shuffled == {w: c for w, c in cnt.items() if c >= math.ceil(0.02 * total)}
    srow = df.transform(t("text_frequent_terms", min_support=0.02)).first()
    assert abs(srow["support"] - srow["n"] / total) < 1e-15
    # ngram=2: same exact-filter contract over bigram shingles (short
    # docs contribute their single joined shingle, per text_ngram_counts)
    bi = Counter()
    for _, txt in docs:
        ws = txt.lower().split()
        if len(ws) >= 2:
            bi.update(" ".join(ws[i : i + 2]) for i in range(len(ws) - 1))
        elif ws:
            bi.update([" ".join(ws)])
    btot = sum(bi.values())
    bthr = math.ceil(0.01 * btot)
    bgot = {
        r["term"]: r["n"]
        for r in df.transform(
            t("text_frequent_terms", min_support=0.01, ngram=2)
        ).collect()
    }
    assert bgot == {g: c for g, c in bi.items() if c >= bthr}
    with pytest.raises(ValueError):
        t("text_frequent_terms", min_support=0.0)
    with pytest.raises(ValueError):
        t("text_frequent_terms", min_support=1.5)
    with pytest.raises(ValueError):
        t("text_frequent_terms", min_support=0.5, ngram=0)


def test_word_pmi_matches_python_replay(spark):
    """text_word_pmi pinned against a transparent Python replay of the
    grid-snapped log decomposition, with an injected strong collocation
    that must rank first; plus threshold and validation contracts."""
    import math
    import random
    from collections import Counter

    rng = random.Random(9)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for d in range(120):
        ws = rng.choices(vocab, k=rng.randint(1, 40))
        if d % 3 == 0:
            pos = rng.randrange(len(ws))
            ws[pos:pos] = ["new", "york"]
        docs.append((d, " ".join(ws)))
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING").repartition(5)
    got = [
        (r["w1"], r["w2"], r["n_ab"], r["pmi_s"], r["pmi"])
        for r in df.transform(t("text_word_pmi", k=10, min_count=3)).collect()
    ]
    uni: Counter = Counter()
    bi: Counter = Counter()
    nu = nb = 0
    for _, txt in docs:
        ws = txt.lower().split()
        uni.update(ws)
        nu += len(ws)
        for a, b in zip(ws, ws[1:]):
            bi[(a, b)] += 1
        nb += max(len(ws) - 1, 0)

    def L(x):
        return math.floor(math.log10(x) * 10000 + 0.5)

    scored = sorted(
        (
            (-(L(c) + 2 * L(nu) - L(nb) - L(uni[a]) - L(uni[b])), a, b, c)
            for (a, b), c in bi.items()
            if c >= 3
        )
    )
    ref = [(a, b, c, -ns, -ns / 10000.0) for ns, a, b, c in scored[:10]]
    assert got == ref
    assert got[0][:2] == ("new", "york")
    with pytest.raises(ValueError):
        t("text_word_pmi", k=0)
    with pytest.raises(ValueError):
        t("text_word_pmi", min_count=0)


def test_unigram_encode_viterbi_matches_brute_force(spark):
    """unigram_encode's per-word Viterbi DP == brute-force enumeration of
    every segmentation under the same total order (max score, fewest
    pieces, smallest chr(1)-joined path) on 300 random words; plus
    end-to-end document reassembly, UNK/score contracts, and the
    shuffle-join dictionary arm matching the broadcast arm."""
    import random

    from lakehouse_engine_spark.datapipes.bpe import unigram_viterbi_py

    import string

    pieces = {c: -30000 for c in string.ascii_lowercase}
    for p in ("th", "he", "in", "er", "an", "ing", "ion", "the", "and"):
        pieces[p] = -15000

    def brute(w):
        best = None

        def rec(pos, path, sc):
            nonlocal best
            if pos == len(w):
                key = (-sc, len(path), "\x01".join(path))
                if best is None or key < best:
                    best = key
                return
            for e in range(pos + 1, min(pos + 3, len(w)) + 1):
                if w[pos:e] in pieces:
                    rec(e, path + [w[pos:e]], sc + pieces[w[pos:e]])

        rec(0, [], 0)
        if best is None:
            return ["[UNK]"], -100000
        return best[2].split("\x01"), -best[0]

    rng = random.Random(1)
    for _ in range(300):
        w = "".join(rng.choice("theringanod") for _ in range(rng.randint(1, 9)))
        assert unigram_viterbi_py(w, pieces, 3) == brute(w), w

    vocab = spark.createDataFrame(
        [(k, v) for k, v in pieces.items()], "piece STRING, logp_s LONG"
    )
    docs = spark.createDataFrame(
        [(0, "the running lion"), (1, ""), (2, "zzz? the")],
        "doc_id LONG, text STRING",
    )
    out = {
        r["doc_id"]: (
            r["ug_tokens"], r["ug_tokens_n"], r["ug_tokens_score_s"]
        )
        for r in docs.transform(
            t("unigram_encode", vocab=vocab, lowercase=True)
        ).collect()
    }
    assert out[0][0] == ["the", "r", "u", "n", "n", "ing", "l", "ion"]
    assert out[0][1] == 8 and out[0][2] == -195000
    assert out[1] == ([], 0, 0)
    # "zzz?" contains a char outside the vocab -> whole word UNK
    assert out[2][0] == ["[UNK]", "the"] and out[2][2] == -115000
    empty_vocab = spark.createDataFrame([], "piece STRING, logp_s LONG")
    ev = {
        r["doc_id"]: r["ug_tokens"]
        for r in docs.transform(
            t("unigram_encode", vocab=empty_vocab, lowercase=True)
        ).collect()
    }
    assert ev == {0: ["[UNK]"] * 3, 1: [], 2: ["[UNK]"] * 2}


def test_mixture_plan_arithmetic_and_contracts(spark):
    """mixture_plan pinned against a transparent integer replay: budget
    shares by floor division, epoch cap, ppm rates, shortfall; a group
    absent from the corpus plans to zero with full shortfall; corpus
    groups absent from the weights get no row; validation raises."""
    docs = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3], 100 + i) for i in range(90)],
        "doc_id LONG, lang STRING, n_tokens INT",
    )
    out = {
        r["lang"]: r.asDict()
        for r in docs.transform(
            t(
                "mixture_plan",
                group_col="lang",
                weights={"en": 70, "de": 20, "xx": 10},
                budget_tokens=10_000,
                max_epochs_ppm=2_000_000,
            )
        ).collect()
    }
    en_avail = sum(100 + i for i in range(90) if i % 3 == 0)
    assert out["en"]["available"] == en_avail
    assert out["en"]["desired_tokens"] == (10_000 * 70) // 100
    assert out["en"]["plan_tokens"] == min(
        7000, (2_000_000 * en_avail) // 1_000_000
    )
    assert out["en"]["epochs_ppm"] == (7000 * 1_000_000) // en_avail
    assert out["en"]["sample_rate_ppm"] == (
        out["en"]["plan_tokens"] * 1_000_000
    ) // en_avail
    assert out["xx"]["available"] == 0 and out["xx"]["capped"]
    assert out["xx"]["shortfall_tokens"] == 1000
    assert "fr" not in out
    with pytest.raises(ValueError):
        t("mixture_plan", group_col="lang", weights={}, budget_tokens=1)
    with pytest.raises(ValueError):
        t(
            "mixture_plan",
            group_col="lang",
            weights={"en": 0},
            budget_tokens=1,
        )
    with pytest.raises(ValueError):
        t(
            "mixture_plan",
            group_col="lang",
            weights={"en": 1.5},
            budget_tokens=1,
        )
    with pytest.raises(ValueError):
        t(
            "mixture_plan",
            group_col="lang",
            weights={"en": 1},
            budget_tokens=-1,
        )


def test_hilbert_key_matches_xy2d_reference(spark):
    """layout_hilbert pinned against the classic xy2d bit recursion on a
    full 8x8 grid: exact key match, bijectivity over the grid, and the
    defining curve property (every consecutive key step is grid-adjacent
    — the locality Z-order's seams break); plus validation."""

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    b, n = 3, 8
    rows = [(i, i // n, i % n) for i in range(n * n)]
    df = spark.createDataFrame(rows, "id LONG, x LONG, y LONG")
    out = {
        (r["x"], r["y"]): r["hilbert_key"]
        for r in df.transform(
            t("layout_hilbert", cols=["x", "y"], bits_per_col=b, sort=False)
        ).collect()
    }
    ref = {(x, y): xy2d(n, x, y) for _, x, y in rows}
    assert out == ref
    inv = {d: k for k, d in ref.items()}
    assert sorted(inv) == list(range(n * n))
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = inv[d], inv[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1
    with pytest.raises(ValueError):
        t("layout_hilbert", cols=["x"])
    with pytest.raises(ValueError):
        t("layout_hilbert", cols=["x", "y", "z"])
    with pytest.raises(ValueError):
        t("layout_hilbert", cols=["x", "y"], bits_per_col=13)


def test_dedup_incremental_exact_across_runs(spark, tmp_path):
    """Cross-RUN dedup: run 1 dedupes within-batch and seeds the digest
    state; run 2 drops everything already ingested AND its own internal
    dupes; dry-run mode leaves the state untouched; streaming input and
    empty key_cols raise."""
    state = str(tmp_path / "digests")
    r1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        "doc_id LONG, text STRING",
    )
    op = t("dedup_incremental_exact", state_location=state,
           key_cols=["text"], id_col="doc_id")
    out1 = sorted(r["doc_id"] for r in r1.transform(op).collect())
    assert out1 == [1, 2]  # in-batch dupe 3 dropped, min-id survivors
    # run 2: one repeat of run 1, one repeat within batch, one new
    r2 = spark.createDataFrame(
        [(10, "alpha text"), (11, "gamma text"), (12, "gamma text"),
         (13, "delta text")],
        "doc_id LONG, text STRING",
    )
    op2 = t("dedup_incremental_exact", state_location=state,
            key_cols=["text"], id_col="doc_id")
    out2 = sorted(r["doc_id"] for r in r2.transform(op2).collect())
    assert out2 == [11, 13]  # alpha seen in run 1; gamma keeps min id 11
    # state now holds all four digests
    assert spark.read.parquet(state).distinct().count() == 4
    # dry run: nothing dropped from state, repeat rows still filtered
    r3 = spark.createDataFrame(
        [(20, "delta text"), (21, "epsilon text")], "doc_id LONG, text STRING"
    )
    op3 = t("dedup_incremental_exact", state_location=state,
            key_cols=["text"], id_col="doc_id", update_state=False)
    out3 = sorted(r["doc_id"] for r in r3.transform(op3).collect())
    assert out3 == [21]
    assert spark.read.parquet(state).distinct().count() == 4  # unchanged
    # epsilon was NOT recorded (dry run) → reappears next real run
    out4 = sorted(
        r["doc_id"]
        for r in r3.transform(
            t("dedup_incremental_exact", state_location=state,
              key_cols=["text"], id_col="doc_id")
        ).collect()
    )
    assert out4 == [21]
    with pytest.raises(ValueError):
        t("dedup_incremental_exact", state_location=state, key_cols=[],
          id_col="doc_id")
    # normalize: whitespace/case variants share a digest
    r5 = spark.createDataFrame(
        [(30, "  ALPHA   text "), (31, "zeta")], "doc_id LONG, text STRING"
    )
    out5 = sorted(
        r["doc_id"]
        for r in r5.transform(
            t("dedup_incremental_exact", state_location=str(tmp_path / "norm"),
              key_cols=["text"], id_col="doc_id", normalize=True)
        ).collect()
    )
    assert out5 == [30, 31]
    out6 = r5.selectExpr("doc_id + 100 AS doc_id", "text").transform(
        t("dedup_incremental_exact", state_location=str(tmp_path / "norm"),
          key_cols=["text"], id_col="doc_id", normalize=True)
    ).count()
    assert out6 == 0  # normalized repeats of run 5 all dropped


def test_binary_decompress_all_codecs_and_error_modes(spark):
    """gzip/zlib/bz2/xz auto-sniff + passthrough; corrupt rows NULL by
    default, kept with on_error='keep', fail-fast with 'error'; pinned
    codec skips sniffing; validation raises."""
    import bz2 as _bz2
    import gzip as _gzip
    import lzma as _lzma
    import zlib as _zlib

    rows = [
        (1, bytearray(_gzip.compress(b"hello gzip"))),
        (2, bytearray(_zlib.compress(b"hello zlib"))),
        (3, bytearray(_bz2.compress(b"hello bz2"))),
        (4, bytearray(_lzma.compress(b"hello xz"))),
        (5, bytearray(b"plain bytes")),
        (6, bytearray(b"\x1f\x8btruncated")),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, payload BINARY")
    got = {
        r["doc_id"]: (
            bytes(r["payload_raw"]) if r["payload_raw"] is not None else None,
            r["raw_bytes"],
        )
        for r in df.transform(t("binary_decompress")).collect()
    }
    assert got[1] == (b"hello gzip", 10)
    assert got[2] == (b"hello zlib", 10)
    assert got[3] == (b"hello bz2", 9)
    assert got[4] == (b"hello xz", 8)
    assert got[5] == (b"plain bytes", 11)   # auto passthrough
    assert got[6] == (None, None)           # corrupt → NULL routing
    assert got[7] == (None, None)
    # keep mode: corrupt rows pass original bytes through
    kept = {
        r["doc_id"]: bytes(r["payload_raw"]) if r["payload_raw"] is not None else None
        for r in df.transform(t("binary_decompress", on_error="keep")).collect()
    }
    assert kept[6] == b"\x1f\x8btruncated"
    # error mode fails fast on the corrupt row
    with pytest.raises(Exception):
        df.transform(t("binary_decompress", on_error="error")).collect()
    # pinned codec: zlib payload under codec="gzip" is an error → NULL
    z = spark.createDataFrame(
        [(1, bytearray(_zlib.compress(b"x")))], "doc_id LONG, payload BINARY"
    )
    pinned = z.transform(t("binary_decompress", codec="gzip")).first()
    assert pinned["payload_raw"] is None
    with pytest.raises(ValueError):
        t("binary_decompress", codec="snappy")
    with pytest.raises(ValueError):
        t("binary_decompress", on_error="boom")


def test_sentence_split_boundaries(spark):
    """Terminator runs, absorbed trailing quotes, unterminated tails,
    empty/whitespace docs (no rows), and min_chars filtering."""
    rows = [
        (1, 'One. Two!! Three?  "Quoted end." tail with no period'),
        (2, "   "),
        (3, ""),
        (4, "justonesentence"),
        (5, "a. bb. ccc."),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {}
    for r in df.transform(t("text_sentence_split")).collect():
        out.setdefault(r["doc_id"], []).append((r["sent_idx"], r["sentence"]))
    assert [s for _, s in sorted(out[1])] == [
        "One.", "Two!!", "Three?", '"Quoted end."', "tail with no period"
    ]
    assert 2 not in out and 3 not in out
    assert out[4] == [(0, "justonesentence")]
    assert [s for _, s in sorted(out[5])] == ["a.", "bb.", "ccc."]
    # min_chars prunes short fragments but keeps indices dense
    pruned = {}
    for r in df.filter("doc_id = 5").transform(
        t("text_sentence_split", min_chars=3)
    ).collect():
        pruned.setdefault(r["doc_id"], []).append((r["sent_idx"], r["sentence"]))
    assert pruned[5] == [(0, "bb."), (1, "ccc.")]
    # sent_n_chars matches
    r0 = df.filter("doc_id = 1").transform(t("text_sentence_split")).first()
    assert r0["sent_n_chars"] == len(r0["sentence"])


def test_html_strip_rules(spark):
    """script/style bodies die wholesale (even containing '<' and quotes),
    comments and tags strip, entities unescape in the right order
    (&amp; LAST so '&amp;lt;' becomes '&lt;' not '<'), whitespace
    collapses; plain text passes through."""
    rows = [
        (1, '<p>plain</p>'),
        (2, '<script>if(1<2){var s="</p>";}</script>kept'),
        (3, '<STYLE media="x">.a{}</STYLE>kept2'),
        (4, 'A &amp;lt; B &nbsp; C &#39;q&#39; &quot;w&quot;'),
        (5, 'no markup at all'),
        (6, '<!-- multi\nline\ncomment -->after'),
        (7, '<div\nclass="x">multiline tag</div>'),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r["text_stripped"]
           for r in df.transform(t("text_html_strip")).collect()}
    assert got[1] == "plain"
    assert got[2] == "kept"
    assert got[3] == "kept2"
    assert got[4] == 'A &lt; B C \'q\' "w"'
    assert got[5] == "no markup at all"
    assert got[6] == "after"
    assert got[7] == "multiline tag"


# The cross-run digest-state contract (dedup.py's module docstring) holds
# for every op built on it: each case runs over all four.
_INCREMENTAL = {
    "exact": ("dedup_incremental_exact", {"key_cols": ["text"]}),
    "minhash": ("dedup_incremental_minhash", {}),
    "embedding": ("dedup_incremental_embedding", {"dim": 4}),
    "winnow": ("text_winnow_incremental", {}),
}
_INCREMENTAL_DOCS = {
    "alpha": ("the alpha passage on query engines and their shuffles at scale",
              [1.0, 0.0, 0.0, 0.0]),
    "beta": ("a beta document about storage layouts compaction and small files",
             [0.0, 1.0, 0.0, 0.0]),
    "gamma": ("gamma covers stream processing with watermarks and late data",
              [0.0, 0.0, 1.0, 0.0]),
    "delta": ("delta text on vector search with inverted lists and codebooks",
              [0.0, 0.0, 0.0, 1.0]),
}


def _incremental_run(spark, kind, state, docs, **kw):
    """Run one incremental op over ``docs`` ((doc_id, key) pairs); the ids
    it keeps (winnow: the ones it does not flag as seen) and the row count."""
    name, args = _INCREMENTAL[kind]
    df = spark.createDataFrame(
        [(i, *_INCREMENTAL_DOCS[k]) for i, k in docs],
        "doc_id LONG, text STRING, embedding ARRAY<DOUBLE>",
    )
    op = t(name, state_location=str(state), id_col="doc_id", **args, **kw)
    rows = df.transform(op).collect()
    return {r["doc_id"] for r in rows if not r.asDict().get("is_seen")}, len(rows)


@pytest.mark.parametrize("kind", list(_INCREMENTAL))
def test_dedup_incremental_corrupt_state_fails_loudly(spark, tmp_path, kind):
    """A corrupt/unreadable state must PROPAGATE, not be silently treated
    as 'first run' — the old bare except disabled cross-run dedup on any
    read failure, re-emitting previously-seen rows and appending duplicate
    digests. Only a genuinely missing state path means first run."""
    state = tmp_path / "digests"
    state.mkdir()
    # a parquet footer that isn't: existing path, unreadable content
    (state / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception) as exc:
        _incremental_run(spark, kind, state, [(1, "alpha")])
    # and the state was NOT polluted with this batch's digests
    assert sorted(p.name for p in state.iterdir()) == ["part-00000.parquet"]
    assert "first run" not in str(exc.value)


@pytest.mark.parametrize("kind", list(_INCREMENTAL))
def test_dedup_incremental_crash_mid_compaction_recovers(spark, tmp_path, kind):
    """The compaction swap has a window where the live state dir does not
    exist (rename(live -> __old) landed, rename(staging -> live) did
    not). A run starting inside that window must RESTORE the backup and
    keep deduping against the full history — treating it as a first run
    would silently re-emit every previously-seen row. The complete-swap
    crash (__old left beside a live dir) must drop the stale backup."""
    import shutil

    state = tmp_path / "digests"
    assert _incremental_run(spark, kind, state, [(1, "alpha"), (2, "beta")])[0] == {1, 2}
    # crash window (a): live dir gone, __old holds the full state
    shutil.move(str(state), str(state) + "__old")
    kept, _ = _incremental_run(spark, kind, state, [(3, "alpha"), (4, "gamma")])
    assert kept == {4}  # alpha still deduped -> state was recovered
    assert state.exists() and not (tmp_path / "digests__old").exists()
    # crash window (b): swap completed but the backup delete did not
    shutil.copytree(str(state), str(state) + "__old")
    kept, _ = _incremental_run(spark, kind, state, [(5, "beta"), (6, "delta")])
    assert kept == {6}
    assert not (tmp_path / "digests__old").exists()  # stale backup dropped


@pytest.mark.parametrize("update_state", [False, True], ids=["dry_run", "rerun"])
@pytest.mark.parametrize("kind", list(_INCREMENTAL))
def test_dedup_incremental_second_run_of_a_batch(spark, tmp_path, kind, update_state):
    """A second run of the same batch keeps no row (winnow: flags every
    doc), whether or not it may update the state; with
    ``update_state=False`` the state files stay byte-identical."""
    state = tmp_path / "digests"
    docs = [(1, "alpha"), (2, "beta"), (3, "gamma")]
    assert _incremental_run(spark, kind, state, docs)[0] == {1, 2, 3}

    def snapshot():
        return {p.relative_to(state): p.read_bytes() for p in state.rglob("*") if p.is_file()}

    before = snapshot()
    kept, n_rows = _incremental_run(spark, kind, state, docs, update_state=update_state)
    assert kept == set()
    assert n_rows == (3 if kind == "winnow" else 0)
    if not update_state:
        assert snapshot() == before


class _RenameFailFS:
    """FileSystem proxy that makes rename() return false (the HDFS
    failure convention) when the (src, dst) pair matches a predicate —
    everything else delegates to the real FileSystem."""

    def __init__(self, real, fail_when):
        self._real = real
        self._fail_when = fail_when
        self.failed = []

    def rename(self, src, dst):
        if self._fail_when(str(src), str(dst)):
            self.failed.append((str(src), str(dst)))
            return False
        return self._real.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_dedup_incremental_compaction_rename_failure_both_legs(
    spark, tmp_path, monkeypatch
):
    """Inject rename() FAILURE (returns false, the HDFS convention) into
    each leg of the compaction swap — rename(live -> __old) and
    rename(staging -> live) — plus the double-failure leg where the
    restore rename also fails. Every leg must raise loudly, never lose
    the live state, and never let a later run silently re-emit
    previously-seen rows."""
    from lakehouse_engine_spark.utils import fs_utils

    state = tmp_path / "digests"
    real_fs = fs_utils._fs

    def run(keys, compact_after=99):
        df = spark.createDataFrame(
            [(i, k) for i, k in enumerate(keys)], "doc_id LONG, text STRING"
        )
        out = df.transform(
            t("dedup_incremental_exact", state_location=str(state),
              key_cols=["text"], id_col="doc_id",
              compact_after_files=compact_after)
        ).collect()
        return {r["text"] for r in out}

    def inject(fail_when):
        def patched(spark_, location):
            fs, path = real_fs(spark_, location)
            return _RenameFailFS(fs, fail_when), path

        monkeypatch.setattr(fs_utils, "_fs", patched)

    # seed three runs without compaction -> 3+ part files, 3 known keys
    assert run(["alpha"]) == {"alpha"}
    assert run(["beta"]) == {"beta"}
    assert run(["gamma"]) == {"gamma"}

    # leg 1: rename(live -> __old) fails -> state left untouched
    inject(lambda s, d: d.endswith("__old"))
    with pytest.raises(RuntimeError, match="state left untouched"):
        run(["delta"], compact_after=1)
    monkeypatch.setattr(fs_utils, "_fs", real_fs)
    assert state.exists() and not (tmp_path / "digests__old").exists()
    # no silent re-emit of ANY previously-seen key (incl. the failing
    # run's batch — its digests were appended before the compaction)
    assert run(["alpha", "beta", "gamma", "delta", "eps1"]) == {"eps1"}

    # leg 2: rename(staging -> live) fails -> backup restored in place
    inject(lambda s, d: s.endswith("__staging"))
    with pytest.raises(RuntimeError, match="original state restored"):
        run(["zeta"], compact_after=1)
    monkeypatch.setattr(fs_utils, "_fs", real_fs)
    assert state.exists() and not (tmp_path / "digests__old").exists()
    assert run(["alpha", "delta", "zeta", "eps2"]) == {"eps2"}

    # leg 3: swap fails AND restore fails -> full state preserved at the
    # __old backup, error says so, and the NEXT access heals it
    inject(lambda s, d: s.endswith("__staging") or s.endswith("__old"))
    with pytest.raises(RuntimeError, match="restore it manually"):
        run(["eta"], compact_after=1)
    monkeypatch.setattr(fs_utils, "_fs", real_fs)
    assert (tmp_path / "digests__old").exists() and not state.exists()
    # next run recovers via fs_utils.heal and still dedups history
    assert run(["beta", "zeta", "eta", "eps3"]) == {"eps3"}
    assert state.exists() and not (tmp_path / "digests__old").exists()


def test_dedup_incremental_state_compaction(spark, tmp_path):
    """After many runs the digest state accumulates one parquet footprint
    per run; with compact_after_files=N the state is rewritten in place
    (distinct digests, few files) once the part count exceeds N — and
    dedup semantics are unchanged across the compaction boundary."""
    state = tmp_path / "digests"
    seen_keys = set()
    n_runs = 8
    for run in range(n_runs):
        rows = [(run * 10 + j, f"doc {run} {j}") for j in range(3)]
        rows.append((run * 10 + 9, "repeat every run"))
        df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        out = df.transform(
            t("dedup_incremental_exact", state_location=str(state),
              key_cols=["text"], id_col="doc_id", compact_after_files=4)
        ).collect()
        got = {r["text"] for r in out}
        expect = {f"doc {run} {j}" for j in range(3)}
        if run == 0:
            expect.add("repeat every run")
        assert got == expect, run
        seen_keys |= expect
    # state content: exactly one digest per unique key ever seen
    assert spark.read.parquet(str(state)).distinct().count() == len(seen_keys)
    assert spark.read.parquet(str(state)).count() == len(seen_keys)
    # and the file count was held down by compaction (8 appends would have
    # left >= 8 part files; the threshold is 4)
    parts = [p for p in state.iterdir() if p.name.startswith("part-")]
    assert len(parts) <= 5, [p.name for p in parts]
    # no staging/backup leftovers
    assert not (tmp_path / "digests__staging").exists()
    assert not (tmp_path / "digests__old").exists()


def test_semantic_centroid_dedup_matches_bruteforce(spark):
    """dedup_semantic_centroid must agree with a brute-force reference on
    its own contract: a vector is dropped iff a smaller-id vector in the
    SAME best-cosine cluster has cosine >= threshold. With num_centroids
    covering the corpus densely, near-identical pairs land in the same
    cluster and the survivor set matches plain pairwise dedup."""
    import math
    import hashlib

    def vec(seed, dim=8):
        vals = [((seed * 31 + j * 7) % 13) - 6.0 for j in range(dim)]
        return vals

    rows = []
    for i in range(40):
        base = vec(i % 10)  # 10 distinct directions, 4 copies each
        jitter = [v + (0.001 * (i // 10)) for v in base]
        rows.append((i, jitter))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = df.transform(
        t("dedup_semantic_centroid", threshold=0.999, num_centroids=6, dim=8)
    )
    got = sorted(r["vec_id"] for r in out.collect())

    # brute-force reference of the SAME contract
    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    def md5fold(x):
        return int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16)

    ids = [r[0] for r in rows]
    vecs = dict(rows)
    cents = sorted(ids, key=lambda i: (md5fold(i), i))[:6]
    def assign(i):
        # best cosine; ties -> larger centroid id (max(struct) order)
        return max(cents, key=lambda c: (cos(vecs[i], vecs[c]), c))
    cluster = {i: assign(i) for i in ids}
    want = sorted(
        i for i in ids
        if not any(
            j < i and cluster[j] == cluster[i] and cos(vecs[i], vecs[j]) >= 0.999
            for j in ids
        )
    )
    assert got == want
    # every kept group representative is the min id of its dropped set
    assert 0 in got
    # keep="all" annotates instead of filtering
    ann = df.transform(
        t("dedup_semantic_centroid", threshold=0.999, num_centroids=6,
          dim=8, keep="all")
    )
    assert ann.count() == 40
    assert {r["vec_id"] for r in ann.filter("NOT is_duplicate").collect()} == set(want)
    with pytest.raises(ValueError):
        t("dedup_semantic_centroid", keep="nope")
    with pytest.raises(ValueError):
        t("dedup_semantic_centroid", num_centroids=0)


def test_semantic_hier_dedup_matches_bruteforce_over_hier_cells(spark):
    """dedup_semantic_hier: a vector is dropped iff a smaller-id vector in
    the SAME hierarchical-quantizer cell verifies at cosine >= threshold.
    Cells come from embedding_kmeans_hier (its own oracle pins the
    assignment, dp130); this test brute-forces the NEW logic — the
    in-cell pair verify and survivor rule — against those cells."""
    import math

    def vec(seed, dim=8):
        return [((seed * 31 + j * 7) % 13) - 6.0 for j in range(dim)]

    rows = []
    for i in range(40):
        base = vec(i % 10)
        jitter = [v + (0.001 * (i // 10)) for v in base]
        rows.append((i, jitter))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    hier_args = dict(
        k_coarse=3, k_fine=2, coarse_iterations=1, fine_iterations=1
    )
    cell = {
        r["vec_id"]: r["cluster"]
        for r in df.transform(t("embedding_kmeans_hier", **hier_args)).collect()
    }
    out = df.transform(
        t("dedup_semantic_hier", threshold=0.999, dim=8, **hier_args)
    )
    got = sorted(r["vec_id"] for r in out.collect())

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    ids = [r[0] for r in rows]
    vecs = dict(rows)
    want = sorted(
        i for i in ids
        if not any(
            j < i and cell[j] == cell[i] and cos(vecs[i], vecs[j]) >= 0.999
            for j in ids
        )
    )
    assert got == want
    # keep="all" annotates instead of filtering
    ann = df.transform(
        t("dedup_semantic_hier", threshold=0.999, dim=8, keep="all",
          **hier_args)
    )
    assert ann.count() == 40
    assert {r["vec_id"] for r in ann.filter("NOT is_duplicate").collect()} == set(want)
    # zero-norm and null embeddings always survive (no cosine direction)
    edge = spark.createDataFrame(
        [(100, [0.0] * 8), (101, None), (102, [1.0] * 8), (103, [1.0] * 8)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    kept = sorted(
        r["vec_id"]
        for r in edge.transform(
            t("dedup_semantic_hier", threshold=0.9, dim=8, k_coarse=1,
              k_fine=1, coarse_iterations=0, fine_iterations=0)
        ).collect()
    )
    assert kept == [100, 101, 102]
    with pytest.raises(ValueError):
        t("dedup_semantic_hier", keep="nope")


def test_ngram_counts_values_and_doc_freq(spark):
    """text_ngram_counts: total counts keep within-doc repeats, doc_freq
    counts distinct source rows, order is (count desc, ngram asc), short
    docs contribute their single joined shingle."""
    df = spark.createDataFrame(
        [
            (1, "a b a b a"),     # 'a b' x2, 'b a' x2
            (2, "a b c"),         # 'a b', 'b c'
            (3, "b"),             # short doc -> single shingle 'b'
            (4, ""),              # empty -> filtered
        ],
        "doc_id LONG, text STRING",
    )
    got = [
        (r["ngram"], r["n_count"], r["doc_freq"], r["rank"])
        for r in df.transform(t("text_ngram_counts", n=2, k=10)).collect()
    ]
    assert got == [
        ("a b", 3, 2, 1),
        ("b a", 2, 1, 2),
        ("b", 1, 1, 3),
        ("b c", 1, 1, 4),
    ]
    # min_count prunes the tail
    got2 = [
        r["ngram"]
        for r in df.transform(
            t("text_ngram_counts", n=2, k=10, min_count=2)
        ).collect()
    ]
    assert got2 == ["a b", "b a"]
    with pytest.raises(ValueError):
        t("text_ngram_counts", n=0)
    with pytest.raises(ValueError):
        t("text_ngram_counts", k=0)


def test_hash_embedding_values_and_chain_to_semantic_dedup(spark):
    """text_hash_embedding: exact ±1 bucket sums, zero vector for
    token-less docs, unit norm when normalized — and the output feeds the
    embedding family directly (chained into dedup_semantic_centroid,
    identical texts collapse)."""
    import math

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, "alpha beta alpha"),
         (4, "gamma delta")],
        "doc_id LONG, text STRING",
    )
    raw = {
        r["doc_id"]: r["hash_embedding"]
        for r in df.transform(
            t("text_hash_embedding", dim=16, normalize=False)
        ).collect()
    }
    # identical texts -> identical vectors; empty -> zero vector
    assert raw[1] == raw[3] and raw[1] != raw[4]
    assert raw[2] == [0.0] * 16
    assert all(v == int(v) for vec in raw.values() for v in vec)
    # token multiplicity: 'alpha' x2 contributes ±2, 'beta' ±1 — distinct
    # buckets give {1,2}; a shared bucket gives {3} (same sign) or {1}
    # (opposite signs cancelling to ±1)
    assert sorted(abs(v) for v in raw[1] if v != 0) in (
        [1.0, 2.0], [3.0], [1.0]
    )
    norm = {
        r["doc_id"]: r["hash_embedding"]
        for r in df.transform(t("text_hash_embedding", dim=16)).collect()
    }
    for did, vec in norm.items():
        n = math.sqrt(sum(v * v for v in vec))
        assert n == pytest.approx(1.0) if did != 2 else n == 0.0
    # chain: hash-embed then semantic dedup — doc 3 (dup of 1) drops
    out = (
        df.transform(t("text_hash_embedding", dim=16))
        .transform(
            t("dedup_semantic_centroid", embedding_col="hash_embedding",
              id_col="doc_id", threshold=0.999, num_centroids=2, dim=16)
        )
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 4]
    with pytest.raises(ValueError):
        t("text_hash_embedding", dim=0)


def test_unimax_sample_water_filling_allocation(spark):
    """unimax_sample: integer water-filling — small groups keep their
    full epoch cap, large groups share the remaining waterline; realized
    tokens track the allocation via the stable hash filter; epochs
    raises caps; zero-budget drops everything with tokens."""
    import hashlib

    rows = []
    did = 0
    # en: 100 docs x 10 tokens = 1000; de: 30 x 10 = 300; fr: 5 x 10 = 50
    for lang, n_docs in (("en", 100), ("de", 30), ("fr", 5)):
        for _ in range(n_docs):
            rows.append((did, lang, "w " * 10))
            did += 1
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING, text STRING")
    out = df.transform(
        t("unimax_sample", budget_tokens=600, group_col="lang")
    )
    got = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # expected: caps fr=50, de=300, en=1000; waterline run: fr capped
    # (50 <= 600//3), de uncapped (275 < 300) -> waterline 275 for de+en.
    # thresholds: fr 1e6 (keep all), de 275*1e6//300, en 275*1e6//1000
    def bucket(doc_id):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        return h % 1_000_000
    thr = {"fr": 1_000_000, "de": 275 * 1_000_000 // 300,
           "en": 275 * 1_000_000 // 1000}
    want = {}
    for doc_id, lang, _ in rows:
        if bucket(doc_id) < thr[lang]:
            want[lang] = want.get(lang, 0) + 1
    assert got == want
    assert got["fr"] == 5  # small language fully kept
    # epochs=2 doubles fr's cap (100) — still fully kept, dilutes others
    out2 = df.transform(
        t("unimax_sample", budget_tokens=600, group_col="lang", epochs=2.0)
    )
    assert out2.filter("lang = 'fr'").count() == 5
    # budget covering everything keeps everything
    assert df.transform(
        t("unimax_sample", budget_tokens=10_000, group_col="lang")
    ).count() == 135
    # zero budget keeps nothing (all groups have tokens)
    assert df.transform(
        t("unimax_sample", budget_tokens=0, group_col="lang")
    ).count() == 0
    # token-less group passes through untouched
    df2 = df.union(
        spark.createDataFrame([(900, "xx", "")], "doc_id LONG, lang STRING, text STRING")
    )
    kept2 = df2.transform(
        t("unimax_sample", budget_tokens=0, group_col="lang")
    )
    assert [r["doc_id"] for r in kept2.collect()] == [900]
    with pytest.raises(ValueError):
        t("unimax_sample", budget_tokens=-1)
    with pytest.raises(ValueError):
        t("unimax_sample", budget_tokens=1, epochs=0)


def test_embedding_dedup_zero_vectors_survive_both_methods(spark):
    """Zero-norm vectors (empty docs through text_hash_embedding) have no
    cosine direction: both embedding-dedup arms must pass them through as
    survivors instead of raising an ANSI divide-by-zero — including TWO
    zero vectors (byte-identical, but cosine cannot claim them; content
    dedup is dedup_exact's job). The shared cosine() helper defines
    zero-norm similarity as 0.0."""
    rows = [(1, [1.0, 2.0]), (2, [0.0, 0.0]), (3, [1.0, 2.0]),
            (4, [2.0, 1.0]), (5, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    for method in ("exact", "lsh"):
        got = sorted(
            r["vec_id"]
            for r in df.transform(
                t("dedup_embedding_cosine", method=method, threshold=0.99,
                  dim=2, max_bucket_size=None)
            ).collect()
        )
        assert got == [1, 2, 4, 5], method  # 3 dups 1; both zeros survive
    from lakehouse_engine_spark.datapipes.dedup import cosine
    import pyspark.sql.functions as F

    sim = df.selectExpr("embedding AS a").limit(1).select(
        cosine(F.col("a"), F.array(F.lit(0.0), F.lit(0.0))).alias("s")
    ).first()["s"]
    assert sim == 0.0


def test_dup_line_stats(spark):
    """Duplicate-line fractions: trimmed comparison, empties dropped,
    exact counts, null/empty docs zero out."""
    rows = [
        (1, "nav menu\ncontent one\nnav menu\ncontent two\n nav menu "),
        (2, "all\nunique\nlines"),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in
           df.transform(t("text_dup_line_stats")).collect()}
    assert got[1]["n_lines"] == 5 and got[1]["n_dup_lines"] == 3
    assert abs(got[1]["dup_line_frac"] - 0.6) < 1e-12
    assert abs(got[1]["dup_char_frac"] - 24 / 46) < 1e-12
    assert got[2]["n_dup_lines"] == 0 and got[2]["dup_line_frac"] == 0.0
    for d in (3, 4):
        assert got[d]["n_lines"] == 0 and got[d]["dup_char_frac"] == 0.0
    # paragraph variant via regex separator
    para = spark.createDataFrame(
        [(1, "dup para\n\ndup para\n\nunique body text")],
        "doc_id LONG, text STRING",
    )
    r = para.transform(
        t("text_dup_line_stats", sep="\\n\\n+")).collect()[0]
    assert r["n_lines"] == 3 and r["n_dup_lines"] == 2


def test_decontaminate_spans_surgical_removal(spark):
    """Span-removal decontamination: contaminated n-gram ranges are cut
    (case-insensitive match), clean remainders become ordered
    fragments, split shards under min_fragment_tokens are pruned,
    uncontaminated docs pass through whole, fully-contaminated docs
    empty out."""
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "bid LONG, text STRING"
    )
    head = " ".join(f"head{i}" for i in range(25))
    tail = " ".join(f"tail{i}" for i in range(25))
    rows = [
        (1, f"{head} Alpha BETA gamma delta {tail}"),
        (2, "totally clean document with several words"),
        (3, f"alpha beta gamma delta {tail}"),
        (4, "alpha beta gamma delta"),
        (5, "short alpha beta gamma delta tl"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in df.transform(
        t("text_decontaminate_spans", benchmark_df=bench, ngram=4,
          min_fragment_tokens=5)).collect()}
    assert got[1]["n_fragments"] == 2 and got[1]["n_removed_tokens"] == 4
    assert got[1]["clean_fragments"][0].startswith("head0 ")
    assert got[1]["clean_fragments"][1].startswith("tail0 ")
    assert got[2]["clean_fragments"] == [rows[1][1]]
    assert got[2]["n_removed_tokens"] == 0
    assert got[3]["n_fragments"] == 1
    assert got[4]["clean_fragments"] == [] and got[4]["n_removed_tokens"] == 4
    assert got[5]["clean_fragments"] == [] and got[5]["n_removed_tokens"] == 6
    assert got[6]["clean_fragments"] == [] and got[6]["n_removed_tokens"] == 0
    with pytest.raises(ValueError):
        t("text_decontaminate_spans", benchmark_df=bench, ngram=0)


def test_materialize_policies_under_dynamic_allocation(spark, monkeypatch):
    """iter_materialize must choose a RECOMPUTABLE persist (behind a
    plan-truncating LogicalRDD wrapper with a releasable handle) when
    dynamic allocation can remove the executor holding checkpoint
    blocks, and the GC-friendly eager localCheckpoint otherwise; the
    one-shot probe policy must never persist under dynamic allocation
    (no sound release point) — identical contents on every path."""
    from lakehouse_engine_spark.datapipes import materialize as mat_mod

    df = spark.createDataFrame([(i,) for i in range(10)], "v LONG")
    # static cluster (this container): checkpoint path, no cache entry
    static = mat_mod.iter_materialize(df)
    # lineage truncated to the checkpointed RDD, no cache-manager entry
    assert "ExistingRDD" in static._jdf.queryExecution().executedPlan().toString()
    assert static.storageLevel.useMemory is False
    assert mat_mod.probe_materialize(df) is not df  # probe checkpoints too
    # dynamic allocation: persist path — rebuildable from lineage, plan
    # bounded by the LogicalRDD wrapper, handle released explicitly
    monkeypatch.setattr(mat_mod, "dyn_alloc_enabled", lambda s: True)
    dyn = mat_mod.iter_materialize(df)
    assert "ExistingRDD" in dyn._jdf.queryExecution().executedPlan().toString()
    handle = dyn._lhe_cache_handle
    assert handle.storageLevel.useMemory
    assert sorted(r["v"] for r in dyn.collect()) == list(range(10))
    mat_mod.release(dyn)
    assert handle.storageLevel.useMemory is False  # unpersisted
    mat_mod.release(static)  # no handle -> no-op
    # probe path under dynamic allocation: NO materialization at all
    assert mat_mod.probe_materialize(df) is df
    # with a RELIABLE checkpoint dir configured, dyn-alloc takes the
    # fault-tolerant checkpoint branch (no cache handle to release)
    import tempfile

    spark.sparkContext.setCheckpointDir(tempfile.mkdtemp())
    ck = mat_mod.iter_materialize(df)
    assert not hasattr(ck, "_lhe_cache_handle")
    assert sorted(r["v"] for r in ck.collect()) == list(range(10))


def test_wordpiece_encode_bert_semantics(spark):
    """wordpiece_encode follows the BERT WordpieceTokenizer exactly:
    greedy longest-match-first with ## continuations, whole-word [UNK]
    on any unmatchable position or over-long word, order-preserving
    per-doc reassembly, empty docs -> empty arrays."""
    vocab = spark.createDataFrame(
        [(p,) for p in
         ["un", "##aff", "##able", "aff", "##ab", "ab", "##c", "a",
          "##b", "x"]],
        "piece STRING",
    )
    rows = [
        (1, "unaffable"),       # the canonical BERT example
        (2, "abc"),             # ab + ##c (greedy longest at pos 0)
        (3, "abq"),             # ##q missing -> [UNK]
        (4, "x " + "y" * 150),  # over-long word -> [UNK]
        (5, ""),                # token-less doc -> []
        (6, "ab unaffable"),    # multi-word order preserved
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in df.transform(
        t("wordpiece_encode", vocab=vocab, max_word_len=100)).collect()}
    assert got[1]["wp_tokens"] == ["un", "##aff", "##able"]
    assert got[2]["wp_tokens"] == ["ab", "##c"]
    assert got[3]["wp_tokens"] == ["[UNK]"]
    assert got[4]["wp_tokens"] == ["x", "[UNK]"]
    assert got[5]["wp_tokens"] == [] and got[5]["wp_tokens_n"] == 0
    assert got[6]["wp_tokens"] == ["ab", "un", "##aff", "##able"]


def test_knn_pq_adc_matches_python_reference(spark):
    """knn_pq replayed in Python: encode corpus with md5-sampled
    codebooks, ADC distance = sum over subspaces of
    ||q_s - codeword(code_s)||^2 exact ints, top-k per query by
    (dist, neighbor id), self excluded."""
    import hashlib
    import math

    rows = [(i, [math.sin(i * 1.7 + j) for j in range(8)])
            for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    m, nc, sub, k = 2, 4, 4, 3

    def quant(v):
        return [math.floor(x * 1024 + 0.5) for x in v]

    ordered = sorted(
        rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0])
    )[:nc]
    books = [[quant(r[1])[s * sub:(s + 1) * sub] for r in ordered]
             for s in range(m)]

    def code(v):
        qv = quant(v)
        return [min(range(nc), key=lambda j: (sum(
            (a - b) ** 2 for a, b in
            zip(qv[s * sub:(s + 1) * sub], books[s][j])), j))
            for s in range(m)]

    def adc(qv, codes):
        return sum(
            sum((a - b) ** 2 for a, b in
                zip(qv[s * sub:(s + 1) * sub], books[s][codes[s]]))
            for s in range(m)
        )

    expect = {}
    for qid, qv in rows:
        if qid >= 3:
            continue
        scored = sorted(
            (adc(quant(qv), code(v)), nid)
            for nid, v in rows if nid != qid
        )[:k]
        expect[qid] = [(nid, d) for d, nid in scored]

    out = df.transform(
        t("knn_pq", k=k, m=m, num_codes=nc, query_filter="vec_id < 3")
    ).collect()
    got = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["adc_dist"])
        )
    assert got == expect, (got, expect)
    with pytest.raises(ValueError):
        t("knn_pq", k=0)
    assert df.limit(0).transform(
        t("knn_pq", m=m, num_codes=nc)).count() == 0


def test_pq_encode_matches_python_reference(spark):
    """embedding_pq_encode replayed by a direct Python implementation:
    md5-sampled codebooks, per-subspace exact int argmin (ties ->
    smallest code), summed residual; null embeddings yield null
    code/dist; a width not divisible by m raises."""
    import hashlib

    rows = [(i, [float(i % 5) / 3 + 0.1 * j for j in range(8)])
            for i in range(12)] + [(99, None)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    m, k, sub = 2, 3, 4

    def quant(v):
        import math
        return [math.floor(x * 1024 + 0.5) for x in v]

    ordered = sorted(
        [r for r in rows if r[1] is not None],
        key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]),
    )[:k]
    books = [[quant(r[1])[s * sub:(s + 1) * sub] for r in ordered]
             for s in range(m)]

    def encode(v):
        qv = quant(v)
        codes, tot = [], 0
        for s in range(m):
            ds = [sum((a - b) ** 2 for a, b in
                      zip(qv[s * sub:(s + 1) * sub], books[s][j]))
                  for j in range(k)]
            best = min(range(k), key=lambda j: (ds[j], j))
            codes.append(best)
            tot += ds[best]
        return codes, tot

    out = {r["vec_id"]: r for r in df.transform(
        t("embedding_pq_encode", m=m, k=k)).collect()}
    for i, v in rows:
        if v is None:
            assert out[i]["pq_code"] is None and out[i]["pq_code_dist"] is None
        else:
            codes, tot = encode(v)
            assert out[i]["pq_code"] == codes, (i, out[i]["pq_code"], codes)
            assert out[i]["pq_code_dist"] == tot
    with pytest.raises(ValueError, match="divisible"):
        df.transform(t("embedding_pq_encode", m=3)).collect()
    with pytest.raises(ValueError):
        t("embedding_pq_encode", m=0)
    empty = df.limit(0).transform(t("embedding_pq_encode", m=2, k=3))
    assert empty.count() == 0
    assert "pq_code" in empty.columns


def test_gopher_rules_battery(spark):
    """Each Gopher rule trips on its designed violation and the combined
    keep is the conjunction; thresholds compare as exact integers (a doc
    sitting exactly on a boundary passes)."""
    good = ("the quick brown fox and the lazy dog went to town in a hurry "
            "because it was late for dinner with friends ") * 3
    bullets = "\n".join(f"- item {i} of the list" for i in range(20))
    elly = "\n".join("this line trails off... " for _ in range(10))
    rows = [(1, good), (2, "short text"), (3, bullets), (4, elly),
            (5, "#### ## # " + good), (6, "x1 2y3 99 00 11 22 " * 20),
            (7, None), (8, "")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in
           df.transform(t("text_gopher_rules", min_words=20)).collect()}
    assert got[1]["gopher_keep"]
    assert not got[2]["rule_word_count"]
    assert not got[3]["rule_bullet_lines"]
    assert not got[4]["rule_ellipsis_lines"] and not got[4]["rule_symbol_ratio"]
    assert not got[5]["rule_symbol_ratio"] and got[5]["rule_stopwords"]
    assert not got[6]["rule_alpha_words"]
    for d in (7, 8):
        assert not got[d]["rule_word_count"] and not got[d]["gopher_keep"]
        # ratio rules pass vacuously on empty docs
        assert got[d]["rule_symbol_ratio"] and got[d]["rule_bullet_lines"]
    # boundary: exactly min_words words with mean length exactly 3 passes
    boundary = " ".join(["the"] * 20)
    row = (spark.createDataFrame([(9, boundary)], "doc_id LONG, text STRING")
           .transform(t("text_gopher_rules", min_words=20)).collect()[0])
    assert row["rule_word_count"] and row["rule_mean_word_len"]
    with pytest.raises(ValueError):
        t("text_gopher_rules", mode="nope")
    # filter mode drops flags and non-keepers
    kept = df.transform(t("text_gopher_rules", min_words=20, mode="filter"))
    assert kept.columns == ["doc_id", "text"] and kept.count() == 1
    # stop set is the paper's exact 8 words: "be have" are hits (they were
    # not in the langid profile), "in is it" are NOT (they are not in the
    # paper's set); the parameter overrides the set entirely
    probe = spark.createDataFrame(
        [(1, "be have xxxx yyyy"), (2, "in is it for was on")],
        "doc_id LONG, text STRING",
    )
    g = {r["doc_id"]: r for r in
         probe.transform(t("text_gopher_rules", min_words=1)).collect()}
    assert g[1]["rule_stopwords"] and not g[2]["rule_stopwords"]
    custom = {r["doc_id"]: r for r in
              probe.transform(t("text_gopher_rules", min_words=1,
                                stopwords=("in", "is"))).collect()}
    assert custom[2]["rule_stopwords"] and not custom[1]["rule_stopwords"]


def test_dsir_score_matches_python_reference(spark):
    """text_dsir_score replayed by an independent Python implementation
    of the stated semantics (hashed 1..2-gram buckets, add-one
    smoothing, scaled-integer log10 snaps) on a tiny corpus; docs
    made of target-corpus phrases must outscore alien-vocabulary docs."""
    import hashlib
    import math

    B = 64

    def toks(s):
        return [t for t in s.lower().split() if t]

    def sh(ws, n):
        if len(ws) >= n:
            return [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]
        return [" ".join(ws)]

    def grams(s):
        w = toks(s)
        return sh(w, 1) + sh(w, 2)

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

    def S(x):
        return math.floor(math.log10(x) * 10_000 + 0.5)

    src_rows = [
        (1, "the model trains on the web data"),
        (2, "the model reads the target style text"),
        (3, "zz qq xx vv kk jj pp ww"),
    ]
    tgt_rows = ["the target style text is clean", "the model reads text"]

    cs, ct = {}, {}
    for _, s in src_rows:
        for g in grams(s):
            cs[bucket(g)] = cs.get(bucket(g), 0) + 1
    for s in tgt_rows:
        for g in grams(s):
            ct[bucket(g)] = ct.get(bucket(g), 0) + 1
    Ts, Tt = sum(cs.values()), sum(ct.values())
    expect = {}
    for i, s in src_rows:
        gs = grams(s)
        expect[i] = sum(
            S(ct.get(bucket(g), 0) + 1) - S(cs.get(bucket(g), 0) + 1)
            for g in gs
        ) + len(gs) * (S(Ts + B) - S(Tt + B))

    df = spark.createDataFrame(src_rows, "doc_id LONG, text STRING")
    tgt = spark.createDataFrame([(s,) for s in tgt_rows], "text STRING")
    got = {r["doc_id"]: r["dsir_score"] for r in df.transform(
        t("text_dsir_score", target_df=tgt, num_buckets=B)).collect()}
    assert got == expect, (got, expect)
    # a backtick in a column name is escaped, not a SQL parse error
    tick = "te`xt"
    got_tick = {r["doc_id"]: r["dsir_score"] for r in df.withColumnRenamed(
        "text", tick).transform(t(
            "text_dsir_score", target_df=tgt.withColumnRenamed("text", tick),
            input_col=tick, target_text_col=tick, num_buckets=B)).collect()}
    assert got_tick == expect
    # the alien-vocab doc scores strictly below both target-like docs
    assert got[3] < min(got[1], got[2])
    with pytest.raises(ValueError, match="num_buckets"):
        t("text_dsir_score", target_df=tgt, num_buckets=0)
    with pytest.raises(ValueError, match="target column"):
        t("text_dsir_score", target_df=tgt, target_text_col="nope")


def test_mixing_samplers_group_cardinality_guard(spark, monkeypatch):
    """The per-group threshold collect is a driver control decision sized
    for language/domain cardinality; past MAX_MIX_GROUPS distinct groups
    the aggregate must fail IN-ROW (executor-side raise_error, the
    layout_zorder policy) instead of flooding the driver."""
    from lakehouse_engine_spark.datapipes import sampling as S

    monkeypatch.setattr(S, "MAX_MIX_GROUPS", 5)
    df = spark.createDataFrame(
        [(i, f"g{i}", "one two") for i in range(10)],
        "doc_id LONG, lang STRING, text STRING",
    )
    for op_args in (
        t("unimax_sample", budget_tokens=100),
        t("temperature_sample", budget_tokens=100),
    ):
        with pytest.raises(Exception, match="distinct"):
            df.transform(op_args).collect()
    # under the cap both still work
    few = spark.createDataFrame(
        [(i, f"g{i % 3}", "one two") for i in range(9)],
        "doc_id LONG, lang STRING, text STRING",
    )
    assert few.transform(t("unimax_sample", budget_tokens=100)).count() > 0
    assert few.transform(t("temperature_sample", budget_tokens=100)).count() > 0


def test_temperature_sample_flattens_head(spark):
    """temperature_sample: T=2 allocates ∝ sqrt(tokens) — the head
    language's share shrinks vs proportional; thresholds replay the
    integer-sqrt arithmetic exactly; token-less groups pass through."""
    import hashlib
    import math

    rows = []
    did = 0
    # en: 1000 tokens, de: 250, fr: 40 (steep head)
    for lang, n_docs in (("en", 100), ("de", 25), ("fr", 4)):
        for _ in range(n_docs):
            rows.append((did, lang, "w " * 10))
            did += 1
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING, text STRING")
    out = df.transform(
        t("temperature_sample", budget_tokens=600, temperature=2.0,
          group_col="lang")
    )
    got = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # replay: w = isqrt(n): en 31, de 15, fr 6 → Σ 52
    # alloc: en 600*31//52=357, de 600*15//52=173, fr 600*6//52=69
    # thr: en 357000, de 692000, fr 1e6 (69>=40 → cap at keep-all)
    toks = {"en": 1000, "de": 250, "fr": 40}
    ws = {g: math.isqrt(n) for g, n in toks.items()}
    wsum = sum(ws.values())
    thr = {
        g: min(1_000_000, (600 * ws[g] // wsum) * 1_000_000 // toks[g])
        for g in toks
    }
    assert thr["fr"] == 1_000_000  # sqrt flattening over-allocates the tail

    def bucket(doc_id):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        return h % 1_000_000

    want = {}
    for doc_id, lang, _ in rows:
        if bucket(doc_id) < thr[lang]:
            want[lang] = want.get(lang, 0) + 1
    assert got == want
    # T=2 gives the head a SMALLER share than proportional (T=1 ≈ 77%)
    assert thr["en"] / 1e6 < 0.45
    # token-less group passes through untouched even at zero budget
    df2 = df.union(
        spark.createDataFrame(
            [(900, "xx", "")], "doc_id LONG, lang STRING, text STRING"
        )
    )
    kept = df2.transform(
        t("temperature_sample", budget_tokens=0, group_col="lang")
    )
    assert [r["doc_id"] for r in kept.collect()] == [900]
    with pytest.raises(ValueError, match="temperature"):
        df.transform(t("temperature_sample", budget_tokens=1, temperature=0))


def test_dedup_incremental_minhash_across_runs(spark, tmp_path):
    """Cross-RUN near-dup dedup: run 1 collapses its own near-dups and
    seeds bucket-hash state; run 2 drops near-dups of HISTORY before the
    in-batch rule (so a history-dup never claims a bucket minimum);
    dry-run leaves state untouched; streaming raises."""
    state = str(tmp_path / "buckets")
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    near = base.replace("lazy", "sleepy")       # near-dup of base
    other = "completely different content about engines and physics today"
    r1 = spark.createDataFrame(
        [(2, base), (1, near), (5, other)], "doc_id LONG, text STRING"
    )
    op = t("dedup_incremental_minhash", state_location=state, id_col="doc_id")
    out1 = sorted(r["doc_id"] for r in r1.transform(op).collect())
    assert out1 == [1, 5]  # near-dup pair collapses to min id
    n_state_1 = spark.read.parquet(state).count()
    assert n_state_1 >= 4  # bands per survivor (minus shared buckets)

    # run 2: 10 ≈ history's base → dropped by state; 11/12 new near-pair
    # → min id 11 survives; 13 unique
    r2 = spark.createDataFrame(
        [(10, base.replace("again", "againn")),
         (12, other.replace("engines", "motors") + " x"),
         (11, other.replace("engines", "motors") + " x"),
         (13, "entirely novel text with nothing shared at all here now")],
        "doc_id LONG, text STRING",
    )
    out2 = sorted(r["doc_id"] for r in r2.transform(op).collect())
    assert out2 == [11, 13]
    # dry run on a repeat: filtered but state unchanged
    n_state_2 = spark.read.parquet(state).count()
    r3 = spark.createDataFrame([(20, base), (21, "fresh unseen words entirely")],
                               "doc_id LONG, text STRING")
    op_dry = t("dedup_incremental_minhash", state_location=state,
               id_col="doc_id", update_state=False)
    out3 = sorted(r["doc_id"] for r in r3.transform(op_dry).collect())
    assert out3 == [21]
    assert spark.read.parquet(state).count() == n_state_2


def test_profile_skew_shares_and_order(spark):
    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1, "k STRING"
    )
    out = df.transform(t("profile_skew", key_cols=["k"], top_k=2)).collect()
    assert [r["k"] for r in out] == ["a", "b"]
    assert out[0]["share"] == 0.6 and out[0]["cum_share"] == 0.6
    assert out[1]["share"] == 0.3 and out[1]["cum_share"] == 0.9
    assert out[0]["total_rows"] == 10 and out[0]["n_distinct_keys"] == 3
    with pytest.raises(ValueError):
        t("profile_skew", key_cols=[])


def test_corpus_overlap_stats_counts(spark):
    a = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),  # grams: 2 distinct
         (2, "x1 x2 x3 x4 x5 x6 x7 x8")],    # 1 distinct
        "doc_id INT, text STRING",
    )
    b = spark.createDataFrame(
        [(9, "w1 w2 w3 w4 w5 w6 w7 w8"),     # shares a's first gram
         (10, "y1 y2 y3 y4 y5 y6 y7 y8")],
        "doc_id INT, text STRING",
    )
    row = a.transform(t("corpus_overlap_stats", other_df=b, ngram=8)).collect()[0]
    assert row["n_grams_self"] == 3 and row["n_grams_other"] == 2
    assert row["n_shared"] == 1
    assert row["jaccard"] == 0.25
    assert row["containment_other"] == 0.5


def test_unicode_normalize_forms(spark):
    composed = "café"                 # é as one codepoint
    decomposed = "café"              # e + combining acute
    ligature = "ﬁle"                  # ﬁle
    fullwidth = "Ｈｉ"             # Ｈｉ
    df = spark.createDataFrame(
        [(1, composed), (2, decomposed), (3, ligature), (4, fullwidth),
         (5, None)],
        "doc_id INT, text STRING",
    )
    nfc = {r["doc_id"]: r["text"] for r in
           df.transform(t("text_unicode_normalize", form="NFC")).collect()}
    assert nfc[1] == nfc[2] == composed    # canonical equivalence collapses
    assert nfc[3] == ligature              # NFC keeps compatibility chars
    assert nfc[5] is None
    nfkc = {r["doc_id"]: r["text"] for r in
            df.transform(t("text_unicode_normalize", form="NFKC")).collect()}
    assert nfkc[3] == "file" and nfkc[4] == "Hi"
    flagged = {r["doc_id"]: r["unicode_changed"] for r in
               df.transform(
                   t("text_unicode_normalize", form="NFC", flag_changed=True)
               ).collect()}
    assert flagged == {1: False, 2: True, 3: False, 4: False, 5: False}
    with pytest.raises(ValueError):
        t("text_unicode_normalize", form="NFX")


def test_random_projection_preserves_distances(spark):
    import math
    import random as rnd
    rnd.seed(7)
    d, k, n = 64, 16, 12
    vecs = [[rnd.gauss(0, 1) for _ in range(d)] for _ in range(n)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id INT, embedding ARRAY<FLOAT>",
    )
    out = df.transform(t("embedding_random_projection", out_dim=k))
    got = {r["vec_id"]: r["embedding_rp"] for r in out.collect()}
    assert all(len(v) == k for v in got.values())

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    # JL with k=16: distance ratios concentrate around 1 (loose bounds —
    # this is a sanity check of the projection, not a concentration proof)
    ratios = []
    for i in range(n):
        for j in range(i + 1, n):
            d0 = dist(vecs[i], vecs[j])
            d1 = dist(got[i], got[j])
            ratios.append(d1 / d0)
    assert 0.4 < min(ratios) and max(ratios) < 1.8, (min(ratios), max(ratios))
    # deterministic under re-run, different under another seed
    again = {r["vec_id"]: r["embedding_rp"] for r in
             df.transform(t("embedding_random_projection", out_dim=k)).collect()}
    assert again == got
    other = {r["vec_id"]: r["embedding_rp"] for r in
             df.transform(
                 t("embedding_random_projection", out_dim=k, seed="s2")
             ).collect()}
    assert other != got
    with pytest.raises(ValueError):
        t("embedding_random_projection", out_dim=0)


def test_random_projection_guards_and_quoting(spark):
    """Width guard: out_dim * d_in beyond the unrolled-term cap folds in
    the Arrow kernel instead of stalling the planner; non-identifier
    column names are backtick-quoted into the generated SQL; the path is
    no option (passing ``method`` or ``fold`` is a TypeError)."""
    from lakehouse_engine_spark.datapipes import embeddings

    weird = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0])], "vec_id LONG, `my emb` ARRAY<DOUBLE>"
    )
    out = weird.transform(
        t("embedding_random_projection", out_dim=2, input_col="my emb")
    ).collect()
    assert len(out[0]["embedding_rp"]) == 2
    wide = spark.createDataFrame(
        [(1, [float(i) for i in range(1024)])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    # past the cap the Arrow kernel folds instead of the unrolled
    # expression — realistic LLM widths (1024 -> 256) project fine
    assert 256 * 1024 > embeddings.RANDOM_PROJECTION_MAX_TERMS
    big = wide.transform(
        t("embedding_random_projection", out_dim=256)
    ).collect()
    assert len(big[0]["embedding_rp"]) == 256
    with pytest.raises(TypeError, match="method"):
        embeddings.embedding_random_projection(out_dim=2, method="kernel")
    with pytest.raises(TypeError, match="fold"):
        embeddings.embedding_random_projection(out_dim=2, fold="blas")
    # null-first-row corpus still infers the width from later rows
    nulled = spark.createDataFrame(
        [(0, None), (1, [1.0, 0.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    rows = {r["vec_id"]: r["embedding_rp"] for r in nulled.transform(
        t("embedding_random_projection", out_dim=2)).collect()}
    assert rows[1] is not None and len(rows[1]) == 2


def test_random_projection_kernel_bit_identical_to_unroll(spark, monkeypatch):
    """The Arrow kernel's column-by-column fold performs the SAME
    left-associative IEEE op sequence as the unrolled SQL expression, so
    kernel output (the term cap patched to 0) is bit-for-bit equal to
    unroll output — one numeric spec across both physical regimes (null
    rows and null-element rows included); results are invariant to
    partitioning and Arrow batch boundaries."""
    import random as rnd

    from lakehouse_engine_spark.datapipes import embeddings

    rnd.seed(11)
    d, k = 32, 16
    rows = [(i, [rnd.gauss(0, 1) for _ in range(d)]) for i in range(40)]
    rows.append((100, None))
    nul = [rnd.gauss(0, 1) for _ in range(d)]
    nul[5] = None
    rows.append((101, nul))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    def project(frame, max_terms):
        monkeypatch.setattr(embeddings, "RANDOM_PROJECTION_MAX_TERMS", max_terms)
        return frame.transform(t("embedding_random_projection", out_dim=k))

    unroll = project(df, d * k)
    assert "ArrowEvalPython" not in unroll._jdf.queryExecution().executedPlan().toString()
    a = {r["vec_id"]: r["embedding_rp"] for r in unroll.collect()}
    kernel = project(df, 0)
    assert "ArrowEvalPython" in kernel._jdf.queryExecution().executedPlan().toString()
    b = {r["vec_id"]: r["embedding_rp"] for r in kernel.collect()}
    # TRUE bitwise identity: Python float == is value comparison
    # (-0.0 == 0.0 would pass), so compare the raw IEEE-754 bit patterns
    import struct

    def _bits(vals):
        return [
            None if x is None else struct.pack("<d", x) for x in (vals or [])
        ]

    assert set(a) == set(b)
    for i in a:
        assert _bits(a[i]) == _bits(b[i]), i
    # null row and null-element row both null-poison into [None] * k
    assert a[100] == [None] * k and a[101] == [None] * k
    # batch/partition invariance of the kernel path
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", 7)
        b2 = {r["vec_id"]: r["embedding_rp"] for r in
              project(df.repartition(7), 0).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert b2 == b


def test_interval_overlap_join_validation(spark):
    """Bad arguments fail at construction (bucket_width/cap) or transform
    (missing interval columns) with operator-named messages, not as
    opaque Spark analysis errors mid-plan."""
    il = spark.createDataFrame([("k", 0, 5)], "g STRING, s LONG, e LONG")
    with pytest.raises(ValueError, match="bucket_width"):
        t("interval_overlap_join", right=il, on=["g"], left_start="s",
          left_end="e", right_start="s", right_end="e", bucket_width=0)
    with pytest.raises(ValueError, match="max_buckets"):
        t("interval_overlap_join", right=il, on=["g"], left_start="s",
          left_end="e", right_start="s", right_end="e", bucket_width=2,
          max_buckets_per_interval=0)
    with pytest.raises(ValueError, match="right column"):
        t("interval_overlap_join", right=il, on=["g"], left_start="s",
          left_end="e", right_start="nope", right_end="e", bucket_width=2)
    op = t("interval_overlap_join", right=il, on=["g"], left_start="missing",
           left_end="e", right_start="s", right_end="e", bucket_width=2)
    with pytest.raises(ValueError, match="left column"):
        il.transform(op)


def test_interval_overlap_join_semantics(spark):
    left = spark.createDataFrame(
        [("k", 1, 0, 10), ("k", 2, 20, 30), ("x", 3, 0, 10)],
        "g STRING, lid INT, s LONG, e LONG",
    )
    right = spark.createDataFrame(
        # r1 overlaps l1 across MANY buckets (dedup check); r2 touches l1
        # at the boundary (10 == 10 → overlap, closed intervals); r3 is
        # disjoint; r4 overlaps only in group x
        [("k", 1, 2, 9), ("k", 2, 10, 15), ("k", 3, 11, 19), ("x", 4, 5, 6)],
        "g STRING, rid INT, s LONG, e LONG",
    )
    out = left.transform(
        t("interval_overlap_join", right=right, on=["g"],
          left_start="s", left_end="e", right_start="s", right_end="e",
          bucket_width=2)
    )
    pairs = sorted((r["lid"], r["rid_r"]) for r in out.collect())
    assert pairs == [(1, 1), (1, 2), (3, 4)]
    # no duplicates despite many shared buckets
    assert len(pairs) == len(set(pairs))
    # fail-fast on an exploding interval
    import pytest as _pt
    wide = spark.createDataFrame(
        [("k", 9, 0, 10_000_000)], "g STRING, lid INT, s LONG, e LONG"
    )
    bad = wide.transform(
        t("interval_overlap_join", right=right, on=["g"],
          left_start="s", left_end="e", right_start="s", right_end="e",
          bucket_width=2, max_buckets_per_interval=100)
    )
    with _pt.raises(Exception, match="buckets of width"):
        bad.collect()


def _lloyd_ref(vecs, k, iters):
    """Pure-Python reference for embedding_kmeans' stated semantics:
    1024-grid quantization, md5-ordered init, exact Lloyd rounds with
    floor-div centroid updates, ties to the smallest cluster id."""
    import hashlib
    import math

    q = {
        i: [math.floor(float(x) * 1024 + 0.5) for x in v]
        for i, v in vecs.items()
    }
    order = sorted(q, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    cents = [list(q[i]) for i in order[:k]]

    def assign():
        out = {}
        for i, v in q.items():
            dists = [sum((a - b) ** 2 for a, b in zip(v, c)) for c in cents]
            best = min(range(len(cents)), key=lambda j: (dists[j], j))
            out[i] = (best, dists[best])
        return out

    for _ in range(iters):
        asg = assign()
        for j in range(len(cents)):
            members = [q[i] for i, (c, _) in asg.items() if c == j]
            if members:
                cents[j] = [
                    sum(col) // len(members) for col in zip(*members)
                ]
    return assign()


def test_embedding_kmeans_matches_reference(spark):
    import random as rnd

    rnd.seed(11)
    vecs = {i: [rnd.uniform(-1, 1) for _ in range(8)] for i in range(40)}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id INT, embedding ARRAY<FLOAT>",
    )
    out = df.transform(t("embedding_kmeans", k=4, iterations=3))
    got = {r["vec_id"]: (r["cluster"], r["cluster_dist"]) for r in out.collect()}
    # quantization on the Spark side happens float->double; mirror that
    ref_vecs = {i: [float(x) for x in v] for i, v in vecs.items()}
    import struct

    ref_vecs = {
        i: [struct.unpack("f", struct.pack("f", x))[0] for x in v]
        for i, v in ref_vecs.items()
    }
    assert got == _lloyd_ref(ref_vecs, 4, 3)
    # all input columns survive, plus the two outputs
    assert set(out.columns) == {"vec_id", "embedding", "cluster", "cluster_dist"}
    # every cluster id in range
    assert all(0 <= c < 4 for c, _ in got.values())


def test_embedding_kmeans_edge_cases(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0])], "vec_id INT, embedding ARRAY<FLOAT>"
    )
    # k larger than the corpus: every point is its own centroid, dist 0
    out = df.transform(t("embedding_kmeans", k=5, iterations=2)).collect()
    assert sorted((r["cluster_dist"]) for r in out) == [0, 0]
    # iterations=0: assignment against the raw init centroids
    out0 = df.transform(t("embedding_kmeans", k=1, iterations=0)).collect()
    assert {r["cluster"] for r in out0} == {0}
    # empty input: empty result with the full schema
    empty = df.limit(0).transform(t("embedding_kmeans", k=3))
    assert empty.count() == 0
    assert set(empty.columns) == {"vec_id", "embedding", "cluster", "cluster_dist"}
    import pytest as _pt

    with _pt.raises(ValueError):
        t("embedding_kmeans", k=0)
    with _pt.raises(ValueError):
        t("embedding_kmeans", iterations=-1)


def test_cluster_stats(spark):
    df = spark.createDataFrame(
        [(1, 0, 10), (2, 0, 30), (3, 1, 4)],
        "vec_id INT, cluster INT, cluster_dist LONG",
    )
    out = {r["cluster"]: r for r in df.transform(t("cluster_stats")).collect()}
    assert out[0]["size"] == 2 and out[0]["inertia"] == 40
    assert out[0]["mean_dist"] == 20.0 and out[0]["max_dist"] == 30
    assert out[1]["size"] == 1 and out[1]["inertia"] == 4


def test_iter_materialize_wide_lazy_flips_eager(spark):
    """A corpus-sized frame wider than the narrow-frame contract must
    auto-switch a lazy iter_materialize to EAGER (lazy chains hold every
    round's blocks until the final action — acceptable only for narrow
    control frames). Observable: the eager checkpoint runs a job at
    call time; a narrow lazy one runs none."""
    from lakehouse_engine_spark.datapipes.materialize import (
        NARROW_FRAME_MAX_COLS,
        iter_materialize,
    )

    sc = spark.sparkContext

    def jobs():
        ids = sc.statusTracker().getJobIdsForGroup()
        return max(ids) + 1 if ids else 0

    ncols = NARROW_FRAME_MAX_COLS + 1
    wide = spark.range(10).selectExpr(
        *[f"id + {i} as c{i}" for i in range(ncols)]
    )
    j0 = jobs()
    out = iter_materialize(wide, eager=False, corpus_sized=True)
    assert jobs() > j0  # eager: materialized at call time
    assert out.count() == 10

    narrow = spark.range(10).selectExpr("id as a", "id + 1 as b")
    j1 = jobs()
    lazy = iter_materialize(narrow, eager=False, corpus_sized=True)
    assert jobs() == j1  # narrow frames keep the lazy one-job-per-round
    assert lazy.count() == 10


def test_iterative_loops_under_dynamic_allocation(spark, monkeypatch):
    """The iterative loops (dedup CC, graph CC, PageRank, BPE trainer)
    must produce IDENTICAL results through iter_materialize's
    dynamic-allocation persist branch (plan-truncating LogicalRDD over a
    recomputable persist, handle released per round) as through the
    static localCheckpoint branch."""
    from lakehouse_engine_spark.datapipes import materialize as mat_mod

    docs = spark.createDataFrame(
        [(i, f"shared near duplicate body text number {i % 3} with more words")
         for i in range(12)],
        "doc_id LONG, text STRING",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 6), (7, 1)], "src LONG, dst LONG"
    )

    def run_all():
        cc = {r["doc_id"]: r["dup_cluster"] for r in docs.transform(
            t("dedup_connected_components", num_hashes=12, bands=4,
              shingle_size=3, keep="clusters", output_col="dup_cluster")
        ).collect()}
        gcc = {r["node"]: r["component"] for r in edges.transform(
            t("graph_connected_components", max_iterations=20)
        ).collect()}
        pr = {r["node"]: r["rank_s"] for r in edges.transform(
            t("graph_pagerank", iterations=4)
        ).collect()}
        tr = [tuple(r) for r in docs.transform(
            t("bpe_train", num_merges=6)
        ).collect()]
        return cc, gcc, pr, tr

    static = run_all()
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getRDDStorageInfo().__len__()
    monkeypatch.setattr(mat_mod, "dyn_alloc_enabled", lambda s: True)
    # pin the persist branch regardless of shared-session checkpoint dir
    monkeypatch.setattr(mat_mod, "has_checkpoint_dir", lambda s: False)
    # force the DISTRIBUTED loops: the r15 driver tiers would otherwise
    # bypass iter_materialize entirely on these tiny inputs, and this
    # test exists to exercise the dyn-alloc persist branch of the loops
    from lakehouse_engine_spark.datapipes import dedup as dedup_mod
    from lakehouse_engine_spark.datapipes import graph as graph_mod

    monkeypatch.setattr(graph_mod, "GRAPH_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(dedup_mod, "DEDUP_CC_DRIVER_MAX_EDGES", 0)
    dyn = run_all()
    assert dyn == static
    # per-round handles were released: at most the final round's entry
    # per loop may linger (documented); nothing unbounded. Delta, not an
    # absolute count — other suite tests legitimately leave cached RDDs.
    # localCheckpoint blocks are reference-tracked and cleaned by the
    # ContextCleaner only after a driver GC notices the dropped refs
    # (asynchronous — with the r14 lazy per-round checkpoints the whole
    # chain's blocks are still registered right after the loop's single
    # job), so force GC on both sides and poll until the cleaner
    # settles before asserting the bound.
    import gc
    import time

    deadline = time.time() + 60
    while time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if jsc.getRDDStorageInfo().__len__() - before <= 8:
            break
        time.sleep(2)
    assert jsc.getRDDStorageInfo().__len__() - before <= 8


def test_quantile_prune_per_group_with_null_group_and_ties(spark):
    """quantile_prune(group_cols=...): the cut is computed per group —
    every group keeps (at least) its own top keep_frac, ties at each
    group's threshold are all kept, and rows with a NULL group value form
    their own group (null-safe threshold attach) instead of vanishing."""
    rows = (
        [("en", i, 100 + i) for i in range(10)]          # en: scores 100..109
        + [("de", 100 + i, 7) for i in range(4)]         # de: all tied at 7
        + [(None, 200 + i, 50 + i) for i in range(4)]    # null group: 50..53
    )
    df = spark.createDataFrame(rows, "lang STRING, doc_id LONG, score LONG")
    out = df.transform(
        t("quantile_prune", score_col="score", keep_frac=0.3,
          group_cols=["lang"])
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r["lang"], set()).add(r["score"])
    # en: ceil(10*0.3)=3 -> top 3 scores
    assert got["en"] == {109, 108, 107}
    # de: all tied at the threshold -> every row kept
    assert got["de"] == {7} and sum(r["lang"] == "de" for r in out) == 4
    # null group: ceil(4*0.3)=2 -> top 2, not dropped by the join
    assert got[None] == {53, 52}
    # and the global path is unchanged: one threshold across all rows
    glob = df.transform(
        t("quantile_prune", score_col="score", keep_frac=0.3)
    ).collect()
    assert {r["score"] for r in glob} == {104, 105, 106, 107, 108, 109}


def _hier_ref(vecs, k1, k2, it1, it2):
    """Pure-Python reference for embedding_kmeans_hier's stated semantics:
    level 1 = _lloyd_ref's algebra; level 2 = per-cell md5-ordered init +
    confined exact Lloyd rounds; global id = coarse * k_fine + fine."""
    import hashlib
    import math

    q = {
        i: [math.floor(float(x) * 1024 + 0.5) for x in v]
        for i, v in vecs.items()
    }

    def md5o(i):
        return (hashlib.md5(str(i).encode()).hexdigest(), i)

    def assign(ids, cents):
        out = {}
        for i in ids:
            dists = [sum((a - b) ** 2 for a, b in zip(q[i], c)) for c in cents]
            best = min(range(len(cents)), key=lambda j: (dists[j], j))
            out[i] = (best, dists[best])
        return out

    def lloyd(ids, cents, iters):
        for _ in range(iters):
            asg = assign(ids, cents)
            for j in range(len(cents)):
                members = [q[i] for i, (c, _) in asg.items() if c == j]
                if members:
                    cents[j] = [
                        s // len(members) if s >= 0
                        else -((-s + len(members) - 1) // len(members))
                        for s in (sum(col) for col in zip(*members))
                    ]
        return assign(ids, cents)

    order = sorted(q, key=md5o)
    coarse = [list(q[i]) for i in order[:k1]]
    l1 = lloyd(sorted(q), coarse, it1)
    out = {}
    for cell in {c for c, _ in l1.values()}:
        members = sorted((i for i, (c, _) in l1.items() if c == cell), key=md5o)
        subs = [list(q[i]) for i in members[:k2]]
        l2 = lloyd(sorted(i for i, (c, _) in l1.items() if c == cell), subs, it2)
        for i, (sc, d) in l2.items():
            out[i] = (cell, sc, cell * k2 + sc, d)
    return out


def test_embedding_kmeans_hier_matches_reference(spark):
    import random as rnd
    import struct

    rnd.seed(23)
    vecs = {
        i: [struct.unpack("f", struct.pack("f", rnd.uniform(-1, 1)))[0]
            for _ in range(6)]
        for i in range(60)
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id INT, embedding ARRAY<FLOAT>",
    )
    out = df.transform(
        t("embedding_kmeans_hier", k_coarse=3, k_fine=4,
          coarse_iterations=2, fine_iterations=2)
    )
    got = {
        r["vec_id"]: (r["cluster_coarse"], r["cluster_fine"], r["cluster"],
                      r["cluster_dist"])
        for r in out.collect()
    }
    assert got == _hier_ref(vecs, 3, 4, 2, 2)


def test_embedding_kmeans_hier_edges(spark):
    import pytest as _pt

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [2.0, 2.0]), (3, None)],
        "vec_id INT, embedding ARRAY<FLOAT>",
    )
    out = {r["vec_id"]: r for r in
           df.transform(t("embedding_kmeans_hier", k_coarse=2, k_fine=2,
                          coarse_iterations=1, fine_iterations=1)).collect()}
    # null embedding keeps the flat trainer's null contract
    assert out[3]["cluster_coarse"] == 0 and out[3]["cluster"] == 0
    assert out[3]["cluster_dist"] is None
    assert out[1]["cluster_dist"] == 0 and out[2]["cluster_dist"] == 0
    # empty input keeps the full schema
    empty = df.limit(0).transform(t("embedding_kmeans_hier"))
    assert empty.count() == 0
    assert {"cluster", "cluster_coarse", "cluster_fine", "cluster_dist"} <= set(
        empty.columns
    )
    with _pt.raises(ValueError, match="exceeds"):
        t("embedding_kmeans_hier", k_fine=5000)
    with _pt.raises(ValueError, match=">= 1"):
        t("embedding_kmeans_hier", k_coarse=0)


def test_linear_fit_normal_recovers_known_plane(spark):
    """Exact plane y = 2 + 3*x1 - 1.5*x2 -> exact weights and r2=1 per
    group; a second group with a different plane fits independently."""
    rows = []
    for i in range(60):
        x1, x2 = float(i % 13), float((i * 7) % 11)
        rows.append(("a", x1, x2, 2.0 + 3.0 * x1 - 1.5 * x2))
        rows.append(("b", x1, x2, -1.0 + 0.5 * x1 + 4.0 * x2))
    df = spark.createDataFrame(rows, "g STRING, x1 DOUBLE, x2 DOUBLE, y DOUBLE")
    out = {
        r["g"]: r
        for r in df.transform(
            t("linear_fit_normal", feature_cols=["x1", "x2"], y_col="y",
              group_cols=["g"])
        ).collect()
    }
    assert out["a"]["w0"] == pytest.approx(2.0)
    assert out["a"]["w1"] == pytest.approx(3.0)
    assert out["a"]["w2"] == pytest.approx(-1.5)
    assert out["a"]["r2"] == pytest.approx(1.0)
    assert out["b"]["w1"] == pytest.approx(0.5)
    assert out["b"]["w2"] == pytest.approx(4.0)


def test_linear_fit_normal_collinear_and_ridge(spark):
    """Exactly collinear features -> det=0 on the exact moments -> NULL
    weights; the same design with l2>0 becomes solvable; NULL rows are
    excluded from n and the moments; d outside 1..3 is rejected."""
    rows = [("g", float(i), float(2 * i), float(i)) for i in range(10)]
    rows.append(("g", None, 1.0, 1.0))   # NULL feature: excluded
    rows.append(("g", 1.0, 2.0, None))   # NULL label: excluded
    df = spark.createDataFrame(rows, "g STRING, x1 DOUBLE, x2 DOUBLE, y DOUBLE")
    flat = df.transform(
        t("linear_fit_normal", feature_cols=["x1", "x2"], y_col="y")
    ).first()
    assert flat["n"] == 10 and flat["w0"] is None and flat["r2"] is None
    ridged = df.transform(
        t("linear_fit_normal", feature_cols=["x1", "x2"], y_col="y", l2=1.0)
    ).first()
    assert ridged["w1"] is not None and 0.9 < ridged["r2"] <= 1.0
    with pytest.raises(ValueError):
        t("linear_fit_normal", feature_cols=[], y_col="y")


def test_linear_fit_normal_wide_design_lapack_arm(spark):
    """d>3 routes to the Arrow-batched LAPACK solve over the SAME exact
    decimal moments: recovers a known 5-feature plane (vs numpy lstsq on
    the raw rows), matches the Cramer arm at d=2 on identical data,
    NULLs collinear groups, and honors ridge."""
    import numpy as np

    rows = []
    rng = [(i % 7, (i * 3) % 5, (i * 7) % 11, (i * 13) % 17, (i * 5) % 13)
           for i in range(60)]
    for g, (a, b, c_, d_, e) in enumerate(rng):
        y = 2.0 + 1.5 * a - 0.5 * b + 0.25 * c_ + 3.0 * d_ - 1.0 * e
        rows.append(("g1", float(a), float(b), float(c_), float(d_), float(e), y))
    df = spark.createDataFrame(
        rows, "g STRING, x1 DOUBLE, x2 DOUBLE, x3 DOUBLE, x4 DOUBLE, x5 DOUBLE, y DOUBLE"
    )
    fit = df.transform(
        t("linear_fit_normal",
          feature_cols=["x1", "x2", "x3", "x4", "x5"], y_col="y",
          group_cols=["g"])
    ).first()
    # numpy lstsq reference on the raw rows
    X = np.array([[1.0, r[1], r[2], r[3], r[4], r[5]] for r in rows])
    Y = np.array([r[6] for r in rows])
    ref = np.linalg.lstsq(X, Y, rcond=None)[0]
    got = [fit[f"w{i}"] for i in range(6)]
    assert fit["n"] == 60
    assert np.allclose(got, ref, atol=1e-6), (got, ref)
    assert fit["r2"] > 0.999999

    # agreement with the Cramer arm on a shared d=2 design
    d2 = spark.createDataFrame(
        [(float(i % 7), float((i * 3) % 5),
          1.0 + 2.0 * (i % 7) - 0.5 * ((i * 3) % 5)) for i in range(40)],
        "x1 DOUBLE, x2 DOUBLE, y DOUBLE",
    )
    cram = d2.transform(
        t("linear_fit_normal", feature_cols=["x1", "x2"], y_col="y")
    ).first()
    # the LAPACK arm only engages at d>3; pad the design with two
    # constant-free extra features tied to x1/x2 would be collinear, so
    # instead check the arm directly on the same moments via a 4th/5th
    # independent feature that carries zero weight
    d5 = d2.selectExpr(
        "x1", "x2",
        "cast(cast(x1*7 as int) % 3 as double) AS x3",
        "cast(cast(x2*5 as int) % 2 as double) AS x4",
        "y",
    )
    wide = d5.transform(
        t("linear_fit_normal", feature_cols=["x1", "x2", "x3", "x4"], y_col="y")
    ).first()
    assert abs(wide["w1"] - cram["w1"]) < 1e-6
    assert abs(wide["w2"] - cram["w2"]) < 1e-6
    assert abs(wide["w3"]) < 1e-6 and abs(wide["w4"]) < 1e-6

    # collinear wide design -> NULL weights; ridge conditions it
    col = spark.createDataFrame(
        [(float(i), float(2 * i), float(3 * i), float(4 * i), float(i))
         for i in range(12)],
        "x1 DOUBLE, x2 DOUBLE, x3 DOUBLE, x4 DOUBLE, y DOUBLE",
    )
    flat = col.transform(
        t("linear_fit_normal", feature_cols=["x1", "x2", "x3", "x4"], y_col="y")
    ).first()
    assert flat["w0"] is None and flat["r2"] is None
    ridged = col.transform(
        t("linear_fit_normal", feature_cols=["x1", "x2", "x3", "x4"],
          y_col="y", l2=1.0)
    ).first()
    assert ridged["w1"] is not None and ridged["r2"] > 0.9


def test_linear_fit_then_linear_score_round_trip(spark):
    """The trainer's exported weights drive linear_score inference: the
    identity-link scores reproduce the training labels on a noiseless
    design — the fit->export->score contract the two operators share."""
    rows = [(float(i % 7), float((i * 3) % 5), 1.0 + 2.0 * (i % 7) - 0.5 * ((i * 3) % 5))
            for i in range(40)]
    df = spark.createDataFrame(rows, "f1 DOUBLE, f2 DOUBLE, y DOUBLE")
    w = df.transform(
        t("linear_fit_normal", feature_cols=["f1", "f2"], y_col="y")
    ).first()
    scored = df.transform(
        t("linear_score", weights={"f1": w["w1"], "f2": w["w2"]},
          intercept=w["w0"], link="identity")
    )
    bad = scored.filter(F.abs(F.col("score") - F.col("y")) > 1e-9).count()
    assert bad == 0


def test_event_pattern_match_counts_and_first_match(spark):
    """Non-overlapping leftmost-first matching over the time-ordered
    symbol string; unmapped types drop by default or take default_symbol;
    NULL-ts events are excluded; arg validation."""
    import datetime as dt

    T0 = dt.datetime(2024, 1, 1)

    def at(m):
        return T0 + dt.timedelta(minutes=m)

    rows = [
        (1, at(0), 10, "view"), (1, at(1), 11, "click"),
        (1, at(2), 12, "click"), (1, at(3), 13, "purchase"),
        (1, at(4), 14, "view"), (1, at(5), 15, "purchase"),
        (2, at(0), 20, "view"), (2, at(1), 21, "error"),
        (2, None, 22, "purchase"),              # NULL ts: excluded
        (3, at(0), 30, "refund"),               # unmapped
    ]
    df = spark.createDataFrame(
        rows, "user_id INT, ts TIMESTAMP, event_id INT, event_type STRING"
    )
    sym = {"view": "v", "click": "c", "purchase": "p", "error": "e"}
    out = {
        r["user_id"]: r
        for r in df.transform(
            t("event_pattern_match", on=["user_id"], symbols=sym,
              pattern="vc*p", tiebreak_col="event_id")
        ).collect()
    }
    assert out[1]["seq"] == "vccpvp" and out[1]["n_matches"] == 2
    assert out[1]["first_match"] == "vccp"
    assert out[2]["seq"] == "ve" and out[2]["n_matches"] == 0
    assert out[2]["first_match"] is None
    assert 3 not in out  # all events unmapped -> no sequence row
    kept = {
        r["user_id"]: r["seq"]
        for r in df.transform(
            t("event_pattern_match", on=["user_id"], symbols=sym,
              pattern="x", default_symbol="x", tiebreak_col="event_id")
        ).collect()
    }
    assert kept[3] == "x"
    with pytest.raises(ValueError):
        t("event_pattern_match", on=[], symbols=sym, pattern="v")
    with pytest.raises(ValueError):
        t("event_pattern_match", on=["user_id"], symbols={"view": "vv"},
          pattern="v")
    with pytest.raises(ValueError):
        t("event_pattern_match", on=["user_id"], symbols=sym, pattern="v",
          default_symbol="xy")


def test_event_pattern_match_same_ts_tiebreak(spark):
    """Same-timestamp events order by the tiebreak column, so the folded
    sequence — and the match — is deterministic."""
    import datetime as dt

    T = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, T, 2, "purchase"), (1, T, 1, "view")],
        "user_id INT, ts TIMESTAMP, event_id INT, event_type STRING",
    )
    row = df.transform(
        t("event_pattern_match", on=["user_id"],
          symbols={"view": "v", "purchase": "p"}, pattern="vp",
          tiebreak_col="event_id")
    ).first()
    assert row["seq"] == "vp" and row["n_matches"] == 1


def test_source_divergence_zero_for_identical_and_log_for_disjoint(spark):
    """A source distributed exactly like the corpus sits at ~0 (within one
    1e-4 grid step); disjoint-vocabulary sources land at exactly
    log10(N/N_s) = log10(2) on the grid."""
    same = spark.createDataFrame(
        [("A", "a a b b"), ("B", "a a b b")], "source STRING, text STRING"
    )
    out = {
        r["source"]: r
        for r in same.transform(t("source_unigram_divergence")).collect()
    }
    assert abs(out["A"]["kl10"]) < 5e-4 and abs(out["B"]["kl10"]) < 5e-4
    assert out["A"]["n_tokens"] == 4 and out["A"]["n_distinct_tokens"] == 2
    disjoint = spark.createDataFrame(
        [("A", "x x x x"), ("B", "y y y y")], "source STRING, text STRING"
    )
    kl = {
        r["source"]: r["kl10"]
        for r in disjoint.transform(t("source_unigram_divergence")).collect()
    }
    import math
    assert kl["A"] == pytest.approx(math.log10(2.0), abs=1e-4)
    assert kl["B"] == pytest.approx(math.log10(2.0), abs=1e-4)


def test_ngram_novelty_counts_unique_vs_shared(spark):
    """Docs sharing every 2-gram score zero novelty; a disjoint doc is
    fully novel; in-doc repeats don't inflate uniqueness; short docs
    contribute their whole text as one gram; NULL text -> NULL counts."""
    df = spark.createDataFrame(
        [
            (0, "a b c"),          # grams: "a b", "b c"
            (1, "a b c"),          # identical: both grams shared
            (2, "x y x y"),        # "x y", "y x", "x y" -> 2 distinct, unique
            (3, "z"),              # short: whole-text gram "z"
            (4, None),
        ],
        "doc_id INT, text STRING",
    )
    out = {
        r["doc_id"]: r
        for r in df.transform(t("text_ngram_novelty", n=2)).collect()
    }
    assert out[0]["n_distinct_grams"] == 2 and out[0]["n_unique_grams"] == 0
    assert out[1]["n_unique_grams"] == 0
    assert out[2]["n_distinct_grams"] == 2 and out[2]["n_unique_grams"] == 2
    assert out[3]["n_distinct_grams"] == 1 and out[3]["n_unique_grams"] == 1
    assert out[4]["n_distinct_grams"] is None
    with pytest.raises(ValueError):
        t("text_ngram_novelty", n=0)


def test_winnow_fingerprint_match_guarantee_and_normalization(spark):
    """The winnowing guarantee: any verbatim match of length >= window+k-1
    normalized chars shares a fingerprint VALUE; punctuation/case changes
    don't alter the fingerprint set; unrelated text shares nothing; docs
    shorter than k (after normalization) yield no rows; NULL text none."""
    base = "The quick brown fox jumps over the lazy dog!"
    df = spark.createDataFrame(
        [
            (0, base),
            (1, "He said: the QUICK brown fox jumps over the lazy dog?"),
            (2, "Completely unrelated zebra words, nothing shared at all."),
            (3, "ab!"),
            (4, None),
        ],
        "doc_id INT, text STRING",
    )
    out = df.transform(t("text_winnow_fingerprint", k=5, window=4)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # normalized doc 1 contains doc 0's full normalized text -> every
    # fingerprint of 0 must appear in 1 (positions shift, values match)
    assert by_doc[0] <= by_doc[1]
    assert not (by_doc[0] & by_doc[2])
    assert 3 not in by_doc and 4 not in by_doc
    with pytest.raises(ValueError):
        t("text_winnow_fingerprint", k=0)


def test_winnow_fingerprint_rightmost_tie_and_short_doc(spark):
    """Repetitive text (equal window minima at several positions) selects
    the RIGHTMOST minimal hash per window — the original algorithm's
    density rule; a doc with fewer than `window` grams still winnows one
    fingerprint from the grams it has."""
    df = spark.createDataFrame(
        [(0, "aaaaaaaaaa"), (1, "abcdef")], "doc_id INT, text STRING"
    )
    rows = df.transform(t("text_winnow_fingerprint", k=5, window=4)).collect()
    a = sorted((r["pos"], r["fp"]) for r in rows if r["doc_id"] == 0)
    # 6 grams ("aaaaa" x6, all the same hash), 3 windows, rightmost min:
    # window i selects position i+3 -> global positions 4,5,6; one fp value
    assert [p for p, _ in a] == [4, 5, 6]
    assert len({fp for _, fp in a}) == 1
    b = [r for r in rows if r["doc_id"] == 1]
    assert len(b) == 1  # 2 grams < window -> single min-of-all fingerprint


def test_seed_classifier_separates_seed_like_from_other(spark):
    """Docs made of seed-corpus tokens score positive (seed_pred True),
    docs of tokens never in the seed score negative; empty text -> NULL
    llr, 0 scored tokens, NULL pred; top_v validation."""
    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma alpha beta"),
            (1, "junk spam noise junk spam noise junk"),
            (2, ""),
        ],
        "doc_id INT, text STRING",
    )
    seeds = spark.createDataFrame(
        [(100, "alpha beta gamma delta alpha beta gamma")],
        "doc_id INT, text STRING",
    )
    out = {
        r["doc_id"]: r
        for r in corpus.transform(
            t("text_seed_classifier_score", pos_df=seeds)
        ).collect()
    }
    assert out[0]["seed_llr"] > 0 and out[0]["seed_pred"] is True
    assert out[1]["seed_llr"] < 0 and out[1]["seed_pred"] is False
    assert out[0]["n_scored_tokens"] == 5
    assert out[2]["seed_llr"] is None and out[2]["n_scored_tokens"] == 0
    assert out[2]["seed_pred"] is None
    with pytest.raises(ValueError):
        t("text_seed_classifier_score", pos_df=seeds, top_v=0)


def test_seed_classifier_vocab_cutoff_deterministic(spark):
    """top_v caps the vocabulary by combined count with token tie-break;
    out-of-vocab tokens take the zero-count arithmetic, so scores stay
    defined (and exact) for fully-OOV documents."""
    corpus = spark.createDataFrame(
        [(0, "aa aa aa bb"), (1, "zz zz")], "doc_id INT, text STRING"
    )
    seeds = spark.createDataFrame([(9, "aa aa")], "doc_id INT, text STRING")
    out = {
        r["doc_id"]: r
        for r in corpus.transform(
            t("text_seed_classifier_score", pos_df=seeds, top_v=1)
        ).collect()
    }
    # vocab = {aa} only (cn=3, cp=2 -> np=2, nn=3, v=1). Doc 1 is fully
    # OOV yet scores deterministically: each OOV token contributes the
    # zero-count constant S(nn+v)-S(np+v) = S(4)-S(3) = 1250 -> 2500
    # (OOV leans positive when the NEGATIVE mass is larger — honest NB
    # arithmetic, not a bug).
    assert out[1]["seed_llr"] == 2500
    # doc 0: 3x aa at S(3)-S(4) = -1250 each, bb at 0, + 4x 1250 = 1250
    assert out[0]["seed_llr"] == 1250


def test_pair_budget_caps_lsh_buckets(spark):
    """pair_budget derives the bucket cap from the verify-pair cost
    (k <= isqrt(2*budget)) — the production knob the round-11 ADVICE
    called for: a boilerplate bucket that squeaks under the size cap is
    dropped under a tight pair budget (its members kept as
    non-duplicates), while genuinely small buckets still dedup."""
    from lakehouse_engine_spark.datapipes.dedup import _effective_cap

    assert _effective_cap(10_000, None) == 10_000
    assert _effective_cap(None, None) is None
    assert _effective_cap(None, 50_000_000) == 10_000  # the documented rule
    assert _effective_cap(10_000, 50) == 10            # tighter budget wins
    assert _effective_cap(3, 50_000_000) == 3          # tighter size wins
    with pytest.raises(ValueError):
        _effective_cap(None, 0)

    boiler = [(i, "exactly the same boilerplate text repeated verbatim")
              for i in range(8)]
    pair = [(100, "a genuinely unique sentence about distributed engines"),
            (101, "a genuinely unique sentence about distributed engines!")]
    df = spark.createDataFrame(boiler + pair, "doc_id INT, text STRING")
    # size cap admits the 8-member boilerplate bucket -> it dedups
    full = df.transform(
        t("dedup_ngram_jaccard", shingle_size=2, threshold=0.5,
          max_bucket_size=10, keep="survivors")
    ).count()
    # pair budget 3 -> cap isqrt(6)=2: the 8-member bucket drops (kept as
    # non-dups), the 2-member pair still verifies and dedups
    budgeted = df.transform(
        t("dedup_ngram_jaccard", shingle_size=2, threshold=0.5,
          max_bucket_size=10, pair_budget=3, keep="survivors")
    ).count()
    assert full == 2       # 1 boilerplate survivor + 1 pair survivor
    assert budgeted == 9   # 8 kept boilerplate + 1 pair survivor


def test_correlation_matrix_known_pairs(spark):
    """Perfect positive/negative/zero-variance pairs; listwise NULL
    exclusion keeps every pair on the same n; arg validation."""
    rows = [(float(i), 2.0 * i + 1.0, float(-i), 5.0) for i in range(10)]
    rows.append((None, 1.0, 1.0, 5.0))  # listwise-dropped
    df = spark.createDataFrame(rows, "a DOUBLE, b DOUBLE, c DOUBLE, k DOUBLE")
    out = {
        (r["col_x"], r["col_y"]): r
        for r in df.transform(
            t("correlation_matrix", value_cols=["a", "b", "c", "k"])
        ).collect()
    }
    assert len(out) == 6 and all(r["n"] == 10 for r in out.values())
    assert out[("a", "b")]["corr"] == pytest.approx(1.0)
    assert out[("a", "c")]["corr"] == pytest.approx(-1.0)
    assert out[("a", "k")]["corr"] is None  # zero variance
    with pytest.raises(ValueError):
        t("correlation_matrix", value_cols=["a"])


def test_winnow_overlap_reports_copied_pairs(spark):
    """A verbatim-copy pair dominates the shared-fingerprint report;
    unrelated docs fall under min_shared; the pair is ordered
    doc_a < doc_b; min_shared validation."""
    base = ("students will winnow their documents before comparing them "
            "for overlapping fingerprints in the copy detection system")
    df = spark.createDataFrame(
        [
            (3, base),
            (1, base + " with a small appended edit"),
            (2, "an entirely different subject matter sentence about "
                "volcanic geology and mineral formations"),
        ],
        "doc_id INT, text STRING",
    )
    rows = df.transform(
        t("text_winnow_overlap", k=5, window=4, min_shared=5)
    ).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["shared_fps"] for r in rows}
    assert (1, 3) in pairs and pairs[(1, 3)] >= 5
    assert all(2 not in p for p in pairs)
    assert all(a < b for a, b in pairs)
    with pytest.raises(ValueError):
        t("text_winnow_overlap", min_shared=0)


def test_event_pattern_null_stage_always_dropped(spark):
    """A NULL event type is junk, not an 'unmapped type': it never takes
    default_symbol and never enters the sequence."""
    import datetime as dt

    T0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, T0, 1, "view"), (1, T0 + dt.timedelta(minutes=1), 2, None),
         (1, T0 + dt.timedelta(minutes=2), 3, "purchase")],
        "user_id INT, ts TIMESTAMP, event_id INT, event_type STRING",
    )
    row = df.transform(
        t("event_pattern_match", on=["user_id"],
          symbols={"view": "v", "purchase": "p"}, pattern="vp",
          default_symbol="x", tiebreak_col="event_id")
    ).first()
    assert row["seq"] == "vp" and row["n_matches"] == 1


def test_paragraph_dedup_keeps_lowest_copy_and_reassembles(spark):
    """The shared/near-dup paragraph survives only at its lowest
    (doc, pos) key; docs reassemble from surviving paragraphs in order;
    whole-doc-boilerplate reassembles to ''; keep='paragraphs' exposes
    the audit view; arg validation."""
    shared = "this boilerplate disclaimer paragraph appears on every page of the site"
    near = shared.replace("every page", "every single page")
    df = spark.createDataFrame(
        [
            (0, f"unique alpha content one\n{shared}\nmore unique tail zero"),
            (1, f"different beta content two\n{near}\nother unique tail one"),
            (2, f"{shared}\ncompletely fresh gamma content three"),
            (3, ""),
        ],
        "doc_id INT, text STRING",
    )
    out = {
        r["doc_id"]: r
        for r in df.transform(t("text_paragraph_dedup")).collect()
    }
    assert out[0]["n_kept"] == 3 and shared in out[0]["text_dedup"]
    assert out[1]["n_kept"] == 2 and "single page" not in out[1]["text_dedup"]
    assert out[1]["text_dedup"] == "different beta content two\nother unique tail one"
    assert out[2]["n_kept"] == 1 and out[2]["text_dedup"].startswith("completely")
    assert out[3]["n_paragraphs"] == 0 and out[3]["text_dedup"] == ""
    flags = df.transform(t("text_paragraph_dedup", keep="paragraphs")).collect()
    dup_flags = {(r["doc_id"], r["paragraph_pos"]): r["is_duplicate"] for r in flags}
    assert dup_flags[(0, 2)] is False      # lowest copy of the boilerplate
    assert dup_flags[(1, 2)] and dup_flags[(2, 1)]
    with pytest.raises(ValueError):
        t("text_paragraph_dedup", keep="bogus")
    with pytest.raises(ValueError):
        t("text_paragraph_dedup", num_hashes=12, bands=5)


def test_paragraph_dedup_key_bounds_enforced(spark):
    """The synthetic key id*1e6+pos is validated, not just documented:
    a string doc_id fails up front with a clear TypeError (not an opaque
    mid-plan CAST error), and an id too large for the bigint key raises
    at execution instead of colliding silently."""
    sdf = spark.createDataFrame(
        [("d1", "alpha one\nbeta two")], "doc_id STRING, text STRING"
    )
    with pytest.raises(TypeError, match="integral type"):
        sdf.transform(t("text_paragraph_dedup"))

    big = spark.createDataFrame(
        [(2**62, "alpha one\nbeta two")], "doc_id BIGINT, text STRING"
    )
    with pytest.raises(Exception, match="out of range"):
        big.transform(t("text_paragraph_dedup")).collect()


def test_winnow_cross_overlap_localizes_reference_hits(spark):
    """A doc containing a reference excerpt pairs with THAT reference id;
    clean docs pair with nothing; the both-corpora boilerplate cap drops
    ubiquitous fingerprints; spec_id wrapper resolves; validation."""
    ref_text = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = spark.createDataFrame(
        [
            (0, f"intro words here {ref_text} closing words"),
            (1, "completely unrelated content about database engines and storage"),
        ],
        "doc_id INT, text STRING",
    )
    ref = spark.createDataFrame(
        [(100, ref_text), (200, "some other benchmark passage entirely different")],
        "doc_id INT, text STRING",
    )
    out = docs.transform(
        t("text_winnow_cross_overlap", other_df=ref, min_shared=3)
    ).collect()
    pairs = {(r["doc_id"], r["ref_id"]): r["shared_fps"] for r in out}
    assert (0, 100) in pairs and pairs[(0, 100)] >= 3
    assert all(d != 1 for d, _ in pairs)
    assert all(rid != 200 for _, rid in pairs)
    with pytest.raises(ValueError):
        t("text_winnow_cross_overlap", other_df=ref, min_shared=0)


def test_winnow_incremental_flags_history_overlap_across_runs(spark, tmp_path):
    """Run 1 populates the fingerprint state; run 2's delivery containing
    a verbatim excerpt of run-1 text is flagged (drop mode removes it and
    its copied text never enters the state); dry-run leaves the state
    untouched; fresh text passes every run."""
    state = str(tmp_path / "winnow_state")
    src = ("the original ingested passage about distributed query engines "
           "and their shuffle behavior at scale")
    run1 = spark.createDataFrame(
        [(1, src), (2, "some other first-run content entirely unrelated")],
        "doc_id INT, text STRING",
    )
    op = lambda **kw: t("text_winnow_incremental", state_location=state, **kw)
    out1 = run1.transform(op(mode="flag")).collect()
    assert all(r["hist_shared_fps"] == 0 and not r["is_seen"] for r in out1)

    run2 = spark.createDataFrame(
        [(10, f"prefix words {src} suffix words"),        # copies run-1 text
         (11, "genuinely fresh second-run material here nothing copied")],
        "doc_id INT, text STRING",
    )
    out2 = {r["doc_id"]: r for r in run2.transform(op(mode="flag")).collect()}
    assert out2[10]["is_seen"] and out2[10]["hist_shared_fps"] >= 2
    assert not out2[11]["is_seen"]

    # drop mode against a FRESH state: the copying doc is removed and
    # must NOT poison the state with its unique framing text
    # (survivors-only append) — a later doc made of that framing alone
    # passes clean
    state2 = str(tmp_path / "winnow_state_drop")
    op2 = lambda **kw: t("text_winnow_incremental", state_location=state2, **kw)
    spark.createDataFrame([(1, src)], "doc_id INT, text STRING").transform(
        op2(mode="drop")
    ).collect()
    framing_a = "unique framing alpha beta gamma delta words"
    framing_b = "omega closing tail words entirely its own"
    runB = spark.createDataFrame(
        [(10, f"{framing_a} {src} {framing_b}"),
         (11, "totally new second delivery content")],
        "doc_id INT, text STRING",
    )
    keptB = {r["doc_id"] for r in runB.transform(op2(mode="drop")).collect()}
    assert keptB == {11}
    runC = spark.createDataFrame(
        [(30, f"{framing_a} {framing_b}")], "doc_id INT, text STRING"
    )
    keptC = {r["doc_id"] for r in runC.transform(op2(mode="drop")).collect()}
    assert keptC == {30}  # the rejected doc's framing never entered the state

    # dry run: screening without mutating the state
    import os
    before = sorted(os.listdir(state))
    run2.transform(op(mode="flag", update_state=False)).collect()
    assert sorted(os.listdir(state)) == before

    with pytest.raises(ValueError):
        t("text_winnow_incremental", state_location=state, mode="bogus")
    with pytest.raises(ValueError):
        t("text_winnow_incremental", state_location=state, min_shared=0)


def test_quality_bucket_split_tiers_ties_and_nulls(spark):
    """Named-tier assignment: per-group best-first cumulative budgets
    (ceil(c*n)); all rows tied on a score share a tier; NULL scores take
    the last tier; weights normalize; validation."""
    rows = [("en", i, float(100 - i)) for i in range(10)]   # distinct scores
    rows += [("de", 100 + i, 5.0) for i in range(4)]        # all tied
    rows += [("en", 200, None)]                             # unscorable
    df = spark.createDataFrame(rows, "lang STRING, doc_id INT, s DOUBLE")
    out = {
        r["doc_id"]: r["bucket"]
        for r in df.transform(
            t("quality_bucket_split", score_col="s",
              buckets={"head": 3, "middle": 3, "tail": 4},
              group_cols=["lang"])
        ).collect()
    }
    # en: 10 scored rows -> head = ceil(3) = top-3 scores, middle next 3
    assert [out[i] for i in range(10)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 4
    )
    assert out[200] == "tail"                       # NULL score
    # de: one tied value covers the whole group -> cum=4 > ceil(.3*4)=2,
    # > ceil(.6*4)=3 -> everyone lands in the ELSE tier together
    assert all(out[100 + i] == "tail" for i in range(4))

    # global (no group_cols) and weight normalization
    g = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "doc_id INT, s DOUBLE"
    )
    halves = {
        r["doc_id"]: r["bucket"]
        for r in g.transform(
            t("quality_bucket_split", score_col="s",
              buckets={"top": 1, "rest": 1}, higher_is_better=False)
        ).collect()
    }
    assert [halves[i] for i in range(10)] == ["top"] * 5 + ["rest"] * 5

    with pytest.raises(ValueError):
        t("quality_bucket_split", score_col="s", buckets={"only": 1})
    with pytest.raises(ValueError):
        t("quality_bucket_split", score_col="s", buckets={"a": 1, "b": 0})


def test_char_entropy_known_values_and_nulls(spark):
    """Exact grid arithmetic against hand-computed distributions: a
    uniform 2-char string = 1 bit/char, a single repeated char = 0,
    a uniform 4-char alphabet = 2 bits; empty/NULL text -> NULL entropy
    with n_chars_counted 0."""
    df = spark.createDataFrame(
        [
            (1, "abab"),        # p=.5/.5 -> 1.0 bit
            (2, "aaaa"),        # single symbol -> 0.0
            (3, "abcd"),        # uniform 4 -> 2.0 bits
            (4, ""),
            (5, None),
        ],
        "doc_id INT, text STRING",
    )
    out = {
        r["doc_id"]: (r["char_entropy"], r["n_chars_counted"])
        for r in df.transform(t("text_char_entropy")).collect()
    }
    assert abs(out[1][0] - 1.0) < 1e-9 and out[1][1] == 4
    assert abs(out[2][0] - 0.0) < 1e-9
    assert abs(out[3][0] - 2.0) < 1e-9
    assert out[4] == (None, 0) and out[5] == (None, 0)


def test_c4_rules_line_and_page_battery(spark):
    """text_c4_rules (Raffel et al. 2020 §2.2): line retention needs
    terminal punctuation AND >=3 words AND no 'javascript'; page flags
    run on the raw page except the sentence floor (cleaned text); NULL
    text behaves as empty; filter mode drops flags and failing rows."""
    rows = [
        # 2 good lines (terminal punct, >=3 words) -> kept, 2 sentences
        (1, "one two three.\nfour five six are here!"),
        # line lacks terminal punct; page has brace
        (2, "no terminal punctuation here\ncurly { brace. is three words."),
        # javascript line dropped even with punct+words; lorem on page
        (3, "please enable JavaScript now.\nlorem ipsum body text here."),
        # two words only -> dropped; empty cleaned text, 0 sentences
        (4, "too short."),
        (5, None),
        # CRLF page: \r must not defeat the terminal-punct check
        (6, "windows line endings here.\r\nsecond full sentence too!\r\n"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = {r["doc_id"]: r for r in df.transform(
        t("text_c4_rules", min_sentences=2, bad_words=("curly",))
    ).collect()}
    assert out[1]["n_lines_kept"] == 2 and out[1]["c4_keep"]
    assert out[1]["c4_text"] == "one two three.\nfour five six are here!"
    assert out[2]["n_lines_kept"] == 1          # first line dropped
    assert not out[2]["rule_no_brace"] and not out[2]["rule_no_badwords"]
    assert out[3]["n_lines_kept"] == 1          # javascript line dropped
    assert not out[3]["rule_no_lorem"]
    assert out[4]["n_lines_kept"] == 0 and not out[4]["rule_sentences"]
    assert out[5]["n_lines_kept"] == 0 and out[5]["c4_text"] == ""
    assert out[6]["n_lines_kept"] == 2 and out[6]["c4_keep"]
    kept = df.transform(
        t("text_c4_rules", min_sentences=2, mode="filter")
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 6]
    assert "c4_keep" not in kept.columns and "c4_text" in kept.columns
    with pytest.raises(ValueError):
        t("text_c4_rules", mode="bogus")
    with pytest.raises(ValueError):
        t("text_c4_rules", min_line_words=0)


def test_script_mix_dominance_tiebreak_and_floor(spark):
    """text_script_mix: literal-range counts, dominant by max with the
    SCRIPT_RANGES-order tiebreak, exact floor permille, empty/NULL ->
    zero counts and empty dominant."""
    rows = [
        (1, "привет мир как дела сегодня ab"),   # cyrillic-dominant
        (2, "ab кг"),                             # 2-2 tie -> latin first
        (3, "你好世界 abc"),                       # cjk 4 vs latin 3
        (4, ""),
        (5, None),
        (6, "!!! 123 ???"),                       # nothing classified
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = {r["doc_id"]: r for r in df.transform(t("text_script_mix")).collect()}
    assert out[1]["script_dominant"] == "cyrillic"
    assert out[1]["script_latin"] == 2
    # floor(1000 * latin / (cyr + latin)) exactly
    n = out[1]["script_chars"]; mx = n - out[1]["script_latin"]
    assert out[1]["script_mix_permille"] == (1000 * (n - mx)) // n
    assert out[2]["script_dominant"] == "latin"   # tie -> earlier range
    assert out[2]["script_mix_permille"] == 500
    assert out[3]["script_dominant"] == "cjk"
    assert out[3]["script_cjk"] == 4 and out[3]["script_latin"] == 3
    for i in (4, 5, 6):
        assert out[i]["script_chars"] == 0
        assert out[i]["script_dominant"] == ""
        assert out[i]["script_mix_permille"] == 0


def test_knn_pq_refine_equals_exact_when_shortlist_covers_corpus(spark):
    """knn_pq_refine: with shortlist >= corpus size the ADC pass cannot
    drop a true neighbor, so the refined top-k must equal EXACT integer
    squared-distance kNN (ties -> smaller id) — the recall@k=1 bound of
    the two-stage recipe; rank order follows exact_dist, not adc_dist."""
    import itertools

    rows = [(i, [float(i % 7) / 3.0, float((i * 3) % 5), float(i % 2), 1.0,
                 0.25 * (i % 4), float((i * 7) % 3), 0.5, float(i % 3)])
            for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")
    out = df.transform(
        t("knn_pq_refine", k=3, shortlist=19, m=4, num_codes=8,
          query_filter="vec_id < 4")
    ).collect()

    def quant(v):
        import math
        return [math.floor(float(x) * 1024.0 + 0.5) for x in v]

    qv = {i: quant(v) for i, v in rows}
    for qid in range(4):
        exact = sorted(
            ((sum((a - b) ** 2 for a, b in zip(qv[qid], qv[nid])), nid)
             for nid, _ in rows if nid != qid)
        )[:3]
        got = sorted(
            (r["rank"], r["neighbor_id"], r["exact_dist"])
            for r in out if r["query_id"] == qid
        )
        assert [(n, d) for _, n, d in got] == [(n, d) for d, n in exact], qid
    with pytest.raises(ValueError):
        t("knn_pq_refine", k=5, shortlist=3)
    with pytest.raises(ValueError):
        t("knn_pq_refine", k=0)


def test_embedding_sanitize_flag_battery(spark):
    """embedding_sanitize: one boolean per failure class; an empty array
    is wrong_dim (not vacuously zero); a NaN-bearing zero vector is NaN,
    not zero; filter mode keeps only clean rows and drops the flags."""
    rows = [
        (1, [1.0, 2.0, 0.5]),                 # clean
        (2, None),                             # null
        (3, [1.0, 2.0]),                       # wrong width
        (4, [float("nan"), 2.0, 3.0]),         # NaN cell
        (5, [float("inf"), 2.0, 3.0]),         # +Inf cell
        (6, [0.0, -0.0, 0.0]),                 # zero vector
        (7, []),                               # empty: wrong_dim only
        (8, [float("nan"), 0.0, 0.0]),         # NaN wins over zero
        (9, [float("-inf"), 1.0, 2.0]),        # -Inf counts as inf
        (10, [None, 1.0, 2.0]),                # NULL cell: NaN-class,
                                               # flags stay BOOLEAN
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")
    out = {r["vec_id"]: r for r in df.transform(
        t("embedding_sanitize", dim=3)
    ).collect()}
    # three-valued-logic guard: a null CELL must yield booleans, never
    # NULL flags (the auditable-drop-count contract)
    assert out[10]["emb_has_nan"] is True
    assert out[10]["emb_has_inf"] is False
    assert out[10]["embedding_ok"] is False
    assert out[1]["embedding_ok"] and not any(
        out[1][f] for f in ("emb_null", "emb_wrong_dim", "emb_has_nan",
                            "emb_has_inf", "emb_zero"))
    assert out[2]["emb_null"] and not out[2]["embedding_ok"]
    assert out[3]["emb_wrong_dim"] and not out[3]["emb_zero"]
    assert out[4]["emb_has_nan"] and not out[4]["emb_zero"]
    assert out[5]["emb_has_inf"]
    assert out[6]["emb_zero"] and not out[6]["embedding_ok"]
    assert out[7]["emb_wrong_dim"] and not out[7]["emb_zero"]
    assert out[8]["emb_has_nan"] and out[8]["emb_zero"] is False
    assert out[9]["emb_has_inf"]
    kept = df.transform(t("embedding_sanitize", dim=3, mode="filter"))
    assert [r["vec_id"] for r in kept.collect()] == [1]
    assert "embedding_ok" not in kept.columns
    with pytest.raises(ValueError):
        t("embedding_sanitize", dim=0)
    with pytest.raises(ValueError):
        t("embedding_sanitize", dim=3, mode="drop")


def test_knn_mmr_rerank_lambda_extremes_and_negative_sim(spark):
    """knn_mmr_rerank: lam=0 reproduces relevance top-k in rank order;
    a NEGATIVE candidate-to-selected similarity must flow through the
    score (not clamp to zero) — an anti-correlated candidate beats a
    higher-relevance near-duplicate at high lambda; validation raises."""
    rows = [
        (0, [4.0, 0.0]),          # query
        (1, [3.0, 0.0]),          # most relevant, aligned
        (2, [2.9, 0.1]),          # near-duplicate of 1
        (3, [0.5, -3.0]),         # anti-correlated, low relevance
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")
    pure = df.transform(
        t("knn_mmr_rerank", k=2, shortlist=3, lam_permille=0,
          query_filter="vec_id = 0")
    ).collect()
    assert [(r["neighbor_id"], r["mmr_rank"]) for r in
            sorted(pure, key=lambda r: r["mmr_rank"])] == [(1, 1), (2, 2)]
    diverse = df.transform(
        t("knn_mmr_rerank", k=2, shortlist=3, lam_permille=900,
          query_filter="vec_id = 0")
    ).collect()
    got = [(r["neighbor_id"], r["mmr_rank"]) for r in
           sorted(diverse, key=lambda r: r["mmr_rank"])]
    # round 1 is pure relevance (1); round 2 must pick the
    # anti-correlated 3 over the near-duplicate 2 — its sim to the
    # selected is NEGATIVE, which only wins if the sign flows through
    assert got == [(1, 1), (3, 2)]
    with pytest.raises(ValueError):
        t("knn_mmr_rerank", k=5, shortlist=3)
    with pytest.raises(ValueError):
        t("knn_mmr_rerank", lam_permille=1001)
    with pytest.raises(ValueError):
        t("knn_mmr_rerank", k=0)


def test_bpe_byte_encode_no_unk_and_reference_model(spark):
    """bpe_byte_encode: the bytes->unicode map is a 256-symbol
    bijection; ANY string is encodable (emoji, mixed scripts — no
    [UNK] concept); pieces match the pure-Python reference per word;
    token-less docs keep an empty array."""
    from lakehouse_engine_spark.datapipes.bpe import (
        apply_merges_byte_py,
        byte_symbols,
        bytes_to_unicode_table,
    )

    table = bytes_to_unicode_table()
    assert len(table) == 256 and len(set(table.values())) == 256
    merges = [("t", "h"), ("th", "e"), ("Ã", "©")]
    mdf = spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank INT, left STRING, right STRING, merged STRING",
    )
    rows = [
        (1, "the theme"),
        (2, "café 🚀 héllo"),          # multibyte + emoji: all encodable
        (3, "привет 世界"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = {r["doc_id"]: r for r in df.transform(
        t("bpe_byte_encode", merges=mdf)
    ).collect()}
    for did, txt in rows:
        expected = [
            p for w in txt.split() for p in apply_merges_byte_py(w, merges)
        ]
        assert list(out[did]["bpe_tokens"]) == expected, (did, txt)
        assert out[did]["bpe_tokens_n"] == len(expected)
    # 'the' fully merges; 'é' = 2 bytes merges into one symbol
    assert out[1]["bpe_tokens"][0] == "the"
    assert byte_symbols("é") == "Ã©"
    assert "Ã©" in out[2]["bpe_tokens"]
    # round-trip: pieces re-join to the symbol string (losslessness)
    for did, txt in rows:
        got = "".join(out[did]["bpe_tokens"])
        ref = "".join(byte_symbols(w) for w in txt.split())
        assert got == ref, did


def test_r13_dedup_review_fixes(spark):
    """Regression pins for the round-13 dedup review findings."""
    # (1) dedup_exact: tied ids (a delivery ingested twice) leave ONE
    # survivor; NULL ids lose to identified rows instead of vanishing
    df = spark.createDataFrame(
        [(1, "same text"), (1, "same text"), (None, "same text"),
         (7, "other text")],
        "doc_id INT, text STRING",
    )
    out = df.transform(
        t("dedup_exact", key_cols=["text"], id_col="doc_id")
    ).collect()
    assert sorted((r["doc_id"] for r in out), key=lambda x: (x is None, x)) \
        == [1, 7]
    # only-null-id duplicates still leave one row
    out2 = spark.createDataFrame(
        [(None, "x"), (None, "x")], "doc_id INT, text STRING"
    ).transform(t("dedup_exact", key_cols=["text"], id_col="doc_id")).collect()
    assert len(out2) == 1
    # (2) banding validation: bands > num_hashes / non-divisible / pool
    # overrun raise loudly instead of collapsing the corpus
    for kw in (dict(num_hashes=12, bands=16), dict(num_hashes=12, bands=5),
               dict(num_hashes=64, bands=8)):
        with pytest.raises(ValueError):
            t("dedup_minhash_lsh", **kw)
        with pytest.raises(ValueError):
            t("dedup_connected_components", **kw)
    # (3) keep validation: typos no longer silently no-op the dedup
    for op in ("dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
               "dedup_embedding_cosine"):
        with pytest.raises(ValueError, match="keep"):
            t(op, keep="survivor")
    # (4) minhash_lsh: NULL-id rows pass through as non-duplicates in
    # survivors mode (previously silently deleted via the NULL flag)
    df3 = spark.createDataFrame(
        [(1, "aa bb cc dd ee"), (None, "zz yy xx ww vv")],
        "doc_id INT, text STRING",
    )
    got = df3.transform(t("dedup_minhash_lsh")).collect()
    assert len(got) == 2
    # (5) cross-embedding: zero-norm rows survive even when the
    # reference also holds a zero vector (0/0=NaN passed >= threshold)
    main = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "vec_id INT, embedding ARRAY<FLOAT>"
    )
    ref = spark.createDataFrame(
        [(9, [0.0, 0.0])], "vec_id INT, embedding ARRAY<FLOAT>"
    )
    kept = main.transform(
        t("dedup_cross_embedding", other_df=ref, num_planes=4,
          num_tables=2, threshold=0.9)
    ).collect()
    assert sorted(r["vec_id"] for r in kept) == [1, 2]
    # (6) embedding_cosine exact arm: NULL first row no longer poisons
    # the width probe
    nulled = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0, 0.0]), (3, [1.0, 0.0, 0.0])],
        "vec_id INT, embedding ARRAY<FLOAT>",
    )
    surv = nulled.transform(
        t("dedup_embedding_cosine", method="exact", threshold=0.99,
          id_col="vec_id")
    ).collect()
    assert sorted(r["vec_id"] for r in surv if r["vec_id"] != 3) == [1, 2]
    assert len(surv) == 2  # 3 deduped against 2; null row survives


def test_gpt2_pretokenizer_matches_lookahead_reference(spark):
    """gpt2_pretokens: the RE2-portable marker construction must be
    BIT-IDENTICAL to the public GPT-2 pattern with its \\s+(?!\\S)
    lookahead (which RE2/DuckDB cannot run) on every boundary shape:
    contraction suffixes, multi-space runs (last space glues to the next
    word), tabs/newlines, digit/punct runs, leading/trailing whitespace,
    unicode letters, and whitespace-only strings."""
    import re as _re

    from pyspark.sql import functions as F

    from lakehouse_engine_spark.datapipes.bpe import gpt2_pretokens

    # the reference pattern, with Python-re stand-ins for \p{L} / \p{N}
    # ([^\W\d_] is exactly the unicode-letter class under re.UNICODE;
    # test strings keep numerics to \d so \p{N} agrees)
    ref = _re.compile(
        r"'s|'t|'re|'ve|'m|'ll|'d"
        r"| ?[^\W\d_]+| ?\d+| ?(?:[^\s\w]|_)+|\s+(?!\S)|\s+"
    )
    cases = [
        "The quick brown fox",
        "it's John's, isn't it? we'll see I'm sure they've 'd",
        "a  b   c    d",          # multi-space: last space glues forward
        "a\tb\na\n\nb",           # tabs + newline runs
        "  leading and trailing  ",
        "word",
        "   ",
        "",
        "price: $12.50 (20%)!!",
        "snake_case and __dunder__",
        "café naïve héllo",
        "x2 2x 2 x",
        "para one\n\npara two\n",
        "don't    stop.\n  ok?",
        # the \s-divergence set (r14 review finding): Java \s has \x0b
        # but not U+00A0; RE2 \s is ASCII-only; the reference Python
        # \s has all of these — the literal GPT2_WS_CHARS class must
        # make all three engines agree on every one
        "a\x0bb word",
        "a\xa0b nb\xa0\xa0space",
        "cjk　space  line sep",
        "thin space ogham",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)],
                               "i INT, s STRING")
    got = {
        r["i"]: list(r["toks"])
        for r in df.select("i", gpt2_pretokens(F.col("s")).alias("toks")).collect()
    }
    for i, s in enumerate(cases):
        assert got[i] == ref.findall(s), (s, got[i], ref.findall(s))
        # losslessness: the split is a partition of the string
        assert "".join(got[i]) == s, s


def test_gpt2_pretokenizer_property_random_text(spark):
    """Property sweep: random compositions over a boundary-rich alphabet
    agree with the lookahead reference and re-join losslessly."""
    import random
    import re as _re

    from pyspark.sql import functions as F

    from lakehouse_engine_spark.datapipes.bpe import gpt2_pretokens

    ref = _re.compile(
        r"'s|'t|'re|'ve|'m|'ll|'d"
        r"| ?[^\W\d_]+| ?\d+| ?(?:[^\s\w]|_)+|\s+(?!\S)|\s+"
    )
    rng = random.Random(20260816)
    alphabet = list("ab zé9'.,!\t\n\x0b\xa0　") + ["'s", "'ll", "  ", "\n\n"]
    cases = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)],
                               "i INT, s STRING")
    got = {
        r["i"]: list(r["toks"])
        for r in df.select("i", gpt2_pretokens(F.col("s")).alias("toks")).collect()
    }
    for i, s in enumerate(cases):
        assert got[i] == ref.findall(s), repr(s)
        assert "".join(got[i]) == s, repr(s)


def test_bpe_byte_encode_gpt2_pretokenizer(spark):
    """bpe_byte_encode(pretokenizer='gpt2'): tokens keep their leading
    space (the Ġ-symbol convention), contractions split off, whitespace
    pretokens encode to byte symbols too, and pieces per pretoken match
    the pure-Python reference."""
    import re as _re

    from lakehouse_engine_spark.datapipes.bpe import (
        apply_merges_byte_py,
        byte_symbols,
    )

    ref = _re.compile(
        r"'s|'t|'re|'ve|'m|'ll|'d"
        r"| ?[^\W\d_]+| ?\d+| ?(?:[^\s\w]|_)+|\s+(?!\S)|\s+"
    )
    merges = [("t", "h"), ("th", "e"), ("Ġ", "the")]
    mdf = spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank INT, left STRING, right STRING, merged STRING",
    )
    rows = [
        (1, "the theme of the day"),
        (2, "it's fine\n\nnew para"),
        (3, ""),
        (4, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = {r["doc_id"]: r for r in df.transform(
        t("bpe_byte_encode", merges=mdf, pretokenizer="gpt2")
    ).collect()}
    assert byte_symbols(" ")[0] == "Ġ"  # the GPT-2 space symbol
    for did, txt in rows:
        expected = [
            p for w in ref.findall(txt)
            for p in apply_merges_byte_py(w, merges)
        ]
        assert list(out[did]["bpe_tokens"]) == expected, (did, txt)
    # " the" fully merges into one Ġthe piece mid-sentence
    assert "Ġthe" in out[1]["bpe_tokens"]
    # invalid pretokenizer fails loudly
    with pytest.raises(ValueError, match="pretokenizer"):
        df.transform(t("bpe_byte_encode", merges=mdf, pretokenizer="bogus"))


def _ref_byte_bpe_train(word_counts, n):
    """Pure-Python byte-level canonical BPE trainer: count desc, pair-
    string asc tie-break, left-to-right non-overlapping merge apply."""
    from collections import Counter

    from lakehouse_engine_spark.datapipes.bpe import byte_symbols

    words = {}
    for w, c in word_counts.items():
        words[w] = (list(byte_symbols(w)), c)
    merges = []
    for _ in range(n):
        pc = Counter()
        for syms, c in words.values():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        a, b = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1]))[0]
        merges.append((a, b))
        for w, (syms, c) in words.items():
            i, out = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = (out, c)
    return merges


def test_bpe_byte_train_matches_reference_trainer(spark):
    """bpe_byte_train (canonical rounds): merge sequence equals the
    pure-Python byte-level reference on the toy corpus; no </w> symbol
    ever appears; encode with the learned table round-trips the byte
    symbol stream."""
    from collections import Counter

    from lakehouse_engine_spark.datapipes.bpe import byte_symbols

    text = ("low low low low low lower lower newest newest newest newest "
            "newest newest widest widest widest")
    df = spark.createDataFrame([(1, text)], "doc_id LONG, text STRING")
    merges = df.transform(t("bpe_byte_train", num_merges=8))
    got = [(r["left"], r["right"]) for r in merges.orderBy("rank").collect()]
    assert got == _ref_byte_bpe_train(Counter(text.split()), 8)
    assert all("</w>" not in a + b for a, b in got)
    enc = df.transform(t("bpe_byte_encode", merges=merges)).collect()[0]
    assert "".join(enc["bpe_tokens"]) == "".join(
        byte_symbols(w) for w in text.split()
    )
    with pytest.raises(ValueError):
        t("bpe_byte_train", num_merges=0)
    with pytest.raises(ValueError):
        t("bpe_byte_train", pretokenizer="bogus")


def test_bpe_byte_train_gpt2_end_to_end(spark):
    """End-to-end GPT-2 tokenizer training: bpe_byte_train(gpt2) learns
    Ġ-prefixed merges from space-carrying pretokens; reference-trainer
    equality over the gpt2 pretoken counts; encode(gpt2) with the
    learned table round-trips and uses a multi-byte Ġ piece."""
    import re as _re
    from collections import Counter

    from lakehouse_engine_spark.datapipes.bpe import byte_symbols

    ref_split = _re.compile(
        r"'s|'t|'re|'ve|'m|'ll|'d"
        r"| ?[^\W\d_]+| ?\d+| ?(?:[^\s\w]|_)+|\s+(?!\S)|\s+"
    )
    text = "the cat sat on the mat. the cat's hat is the best hat"
    df = spark.createDataFrame([(1, text)], "doc_id LONG, text STRING")
    merges = df.transform(
        t("bpe_byte_train", num_merges=10, pretokenizer="gpt2")
    )
    got = [(r["left"], r["right"]) for r in merges.orderBy("rank").collect()]
    want = _ref_byte_bpe_train(Counter(ref_split.findall(text)), 10)
    assert got == want
    # space-prefixed types dominate this corpus: a Ġ merge must be learned
    assert any((a + b).startswith("Ġ") for a, b in got)
    enc = df.transform(
        t("bpe_byte_encode", merges=merges, pretokenizer="gpt2")
    ).collect()[0]
    assert "".join(enc["bpe_tokens"]) == "".join(
        byte_symbols(w) for w in ref_split.findall(text)
    )
    assert any(p.startswith("Ġ") and len(p) > 1 for p in enc["bpe_tokens"])


def test_r14_sampling_joins_review_fixes(spark):
    """Regression pins for the round-14 sampling/joins review findings."""
    import math

    # (1) quantile_prune: NULL/NaN scores leave the POPULATION — the
    # threshold is computed over scorable rows only, both directions
    rows = [(i, float(s)) for i, s in enumerate([9, 8, 7, 6])]
    rows += [(90, None), (91, None), (92, None), (93, float("nan"))]
    df = spark.createDataFrame(rows, "doc_id LONG, s DOUBLE")
    kept = df.transform(t("quantile_prune", score_col="s", keep_frac=0.9))
    assert sorted(r["s"] for r in kept.collect()) == [6.0, 7.0, 8.0, 9.0]
    kept_low = df.transform(
        t("quantile_prune", score_col="s", keep_frac=0.5,
          higher_is_better=False)
    )
    assert sorted(r["s"] for r in kept_low.collect()) == [6.0, 7.0]
    grouped = spark.createDataFrame(
        [("g", 1, 5.0), ("g", 2, 4.0), ("g", 3, None)],
        "lang STRING, doc_id LONG, s DOUBLE",
    ).transform(
        t("quantile_prune", score_col="s", keep_frac=0.5,
          group_cols=["lang"])
    )
    assert [r["s"] for r in grouped.collect()] == [5.0]

    # (2) token_budget_sample: NULL groups meet their own threshold row
    # (null-safe join); a budgeted zero-token group keeps all (no ANSI
    # divide-by-zero)
    tb = spark.createDataFrame(
        [(1, "en", 10), (2, None, 10), (3, "empty", 0), (4, "empty", 0)],
        "doc_id LONG, lang STRING, n_tokens INT",
    ).transform(
        t("token_budget_sample", group_col="lang", token_col="n_tokens",
          budgets={"empty": 100}, default_keep=True, seed="tb")
    )
    got = sorted(r["doc_id"] for r in tb.collect())
    assert got == [1, 2, 3, 4], got

    # (3) asof_join: NULL-ts right rows never match; NULL-ts left rows
    # match nothing (both directions)
    left = spark.createDataFrame(
        [(1, "k", 5.0), (2, "k", None)], "id LONG, k STRING, ts DOUBLE"
    )
    right = spark.createDataFrame(
        [("k", None, 99), ("k", 7.0, 7)], "k STRING, ts DOUBLE, v INT"
    )
    from lakehouse_engine_spark.datapipes.joins import asof_join

    back = {r["id"]: r["v_matched"] for r in left.transform(
        asof_join(right, on=["k"], left_ts="ts", right_value_cols=["v"])
    ).collect()}
    assert back == {1: None, 2: None}  # no real predecessor anywhere
    fwd = {r["id"]: r["v_matched"] for r in left.transform(
        asof_join(right, on=["k"], left_ts="ts", right_value_cols=["v"],
                  direction="forward")
    ).collect()}
    assert fwd == {1: 7, 2: None}

    # (4) range_join: bucket_width < 1 fails fast with the op's name
    from lakehouse_engine_spark.datapipes.joins import range_join

    with pytest.raises(ValueError, match="range_join"):
        range_join(right, on=["k"], left_point="ts", right_start="ts",
                   right_end="ts", bucket_width=0)

    # (5) hash samplers: the NULL-id contract — dropped even at 1.0,
    # NULL split label
    nid = spark.createDataFrame([(None,), (7,)], "doc_id LONG")
    assert [r["doc_id"] for r in nid.transform(
        t("hash_sample", id_col="doc_id", fraction=1.0)
    ).collect()] == [7]
    labels = {r["doc_id"]: r["split"] for r in nid.transform(
        t("hash_split", id_col="doc_id")
    ).collect()}
    assert labels[7] is not None and labels[None] is None

    # (6) unimax/temperature: non-string group dtypes join natively
    # (str(True) vs Spark 'true' used to drop the whole group)
    bools = spark.createDataFrame(
        [(1, True, 5), (2, True, 5), (3, False, 5)],
        "doc_id LONG, is_code BOOLEAN, n_tokens INT",
    )
    uni = bools.transform(
        t("unimax_sample", budget_tokens=100, group_col="is_code",
          token_col="n_tokens", id_col="doc_id")
    )
    assert uni.count() == 3  # budget covers everything: nobody vanishes
    temp = bools.transform(
        t("temperature_sample", budget_tokens=100, group_col="is_code",
          token_col="n_tokens", id_col="doc_id", temperature=1.0)
    )
    assert temp.count() == 3

    # (7) salted_join: map-typed columns are excluded from the default
    # salt hash instead of crashing xxhash64; all-map lefts raise loudly
    from lakehouse_engine_spark.datapipes.joins import salted_join

    lmap = spark.createDataFrame(
        [(1, {"a": "b"})], "k LONG, meta MAP<STRING,STRING>"
    )
    rdim = spark.createDataFrame([(1, "dim")], "k LONG, d STRING")
    out = lmap.transform(salted_join(rdim, on=["k"], salt=4)).collect()
    assert len(out) == 1 and out[0]["d"] == "dim"
    only_map = spark.createDataFrame([({"a": "b"},)], "meta MAP<STRING,STRING>")
    with pytest.raises(ValueError, match="salt_on"):
        salted_join(rdim, on=["k"], salt=2)(only_map).collect()


def test_r14_ann_graph_review_fixes(spark):
    """Regression pins for the round-14 clustering/similarity/graph
    review findings."""
    nan = float("nan")

    # (1) knn_ivf_hier: query_filter may reference NON-id columns and
    # ids appearing as substrings of other names (the old rename-rewrite
    # corrupted both)
    rows = [(i, f"cat{i % 2}", [float(i), 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "id LONG, category_id STRING, embedding ARRAY<DOUBLE>")
    out = df.transform(
        t("knn_ivf_hier", id_col="id", k=2,
          query_filter="id < 4 AND category_id = 'cat0'",
          k_coarse=2, k_fine=2, nprobe=4)
    ).collect()
    assert {r["query_id"] for r in out} == {0, 2}

    # (2) pq kernels: null-ELEMENT rows route out instead of crashing /
    # INT64_MIN-poisoning the batch
    dirty = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, None, 3.0, 4.0]),
         (3, [4.0, 3.0, 2.0, 1.0]), (4, None)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    enc = {r["vec_id"]: r for r in dirty.transform(
        t("embedding_pq_encode", m=2, k=2)
    ).collect()}
    assert enc[1]["pq_code"] is not None and enc[3]["pq_code"] is not None
    assert enc[2]["pq_code"] is None and enc[4]["pq_code"] is None
    knn = dirty.transform(
        t("knn_pq", m=2, num_codes=2, k=2, query_filter="vec_id = 1")
    ).collect()
    assert all(r["neighbor_id"] != 2 for r in knn)  # dirty row dropped
    mmr = dirty.transform(
        t("knn_mmr_rerank", k=2, shortlist=4, query_filter="vec_id = 1")
    ).collect()
    assert mmr and all(r["neighbor_id"] in (3,) or r["neighbor_id"] != 2
                       for r in mmr)

    # (3) knn_ivf: null embeddings are never sampled as centroids and a
    # null FIRST row doesn't zero the Lloyd dim probe
    withnull = spark.createDataFrame(
        [(0, None)] + [(i, [float(i), 1.0]) for i in range(1, 9)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    ivf = withnull.transform(
        t("knn_ivf", k=2, num_centroids=3, nprobe=3, iters=1,
          query_filter="vec_id = 1")
    ).collect()
    assert ivf and all(r["neighbor_id"] != 0 for r in ivf)

    # (4) degenerate-corpus / empty-graph schemas keep the caller's id
    # type (string ids used to flip to long)
    sdf = spark.createDataFrame(
        [("a", None)], "vec_id STRING, embedding ARRAY<DOUBLE>"
    )
    deg = sdf.transform(t("knn_ivf_hier", id_col="vec_id", k=1,
                          query_filter="vec_id = 'a'"))
    assert dict(deg.dtypes)["query_id"] == "string" and deg.count() == 0
    eg = spark.createDataFrame([], "src STRING, dst STRING").transform(
        t("graph_pagerank")
    )
    assert dict(eg.dtypes)["node"] == "string" and eg.count() == 0

    # (5) kmeans dim==0: null embeddings keep the null-dist contract
    zw = spark.createDataFrame(
        [(1, []), (2, None)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    km = {r["vec_id"]: r for r in zw.transform(
        t("embedding_kmeans", id_col="vec_id", k=2)
    ).collect()}
    assert km[1]["cluster_dist"] == 0 and km[2]["cluster_dist"] is None

    # (6) knn_lsh holds no cache: its plan is returned lazily, so no
    # persisted or checkpointed RDD outlives the call
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(30)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    res = emb.transform(t("knn_lsh", k=2, query_filter="vec_id < 3"))
    res.collect()
    mid = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert mid <= before, (before, mid)


def test_r14_text_review_fixes(spark):
    """Regression pins for the round-14 text.py review findings."""
    # (1) corpus_overlap_stats: an EMPTY side yields NULL ratios, never
    # an ANSI divide-by-zero at collect time
    from lakehouse_engine_spark.datapipes.text import corpus_overlap_stats

    empty = spark.createDataFrame([], "doc_id LONG, text STRING")
    other = spark.createDataFrame([(1, "alpha beta gamma delta")],
                                  "doc_id LONG, text STRING")
    row = empty.transform(corpus_overlap_stats(other)).collect()[0]
    assert row["n_grams_self"] == 0 and row["containment_self"] is None
    # the union is non-empty (other side has grams), so jaccard is a
    # well-defined 0.0; only the empty-side containment is undefined
    assert row["jaccard"] == 0.0 and row["containment_other"] == 0.0
    both_empty = empty.transform(corpus_overlap_stats(
        spark.createDataFrame([], "doc_id LONG, text STRING")
    )).collect()[0]
    assert both_empty["jaccard"] is None
    assert both_empty["containment_self"] is None
    assert both_empty["containment_other"] is None

    # (2) CRLF pages: blank '\r' separators are NOT corpus-deduplicated
    # and don't count as duplicate lines
    crlf = spark.createDataFrame(
        [(1, "para one.\r\n\r\npara two.\r"), (2, "intro.\r\n\r\noutro.\r")],
        "doc_id LONG, text STRING",
    )
    ld = {r["doc_id"]: r for r in crlf.transform(
        t("text_line_dedup", id_col="doc_id")
    ).collect()}
    # the blank '\r' separators are protected (not corpus-deduplicated):
    # nothing removed, both documents keep all their lines
    assert ld[1]["n_lines_removed"] == 0 and ld[2]["n_lines_removed"] == 0
    assert ld[2]["text_deduped"].count("\n") == 2
    dls = {r["doc_id"]: r for r in crlf.transform(
        t("text_dup_line_stats", id_col="doc_id")
    ).collect()}
    assert all(r["n_dup_lines"] == 0 for r in dls.values())

    # (3) bloom: num_hashes >= 9 runs without ARITHMETIC_OVERFLOW and
    # still catches the contaminated doc; num_bits=0 fails fast
    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today ok")],
        "doc_id LONG, text STRING",
    )
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today ok fine"),
         (2, "completely unrelated words occupy this entire document here")],
        "doc_id LONG, text STRING",
    )
    from lakehouse_engine_spark.datapipes.text import decontaminate_bloom

    hit = {r["doc_id"]: r["maybe_contaminated"] for r in corpus.transform(
        decontaminate_bloom(bench, num_hashes=9)
    ).collect()}
    assert hit[1] is True and hit[2] is False
    with pytest.raises(ValueError, match="num_bits"):
        decontaminate_bloom(bench, num_bits=0)

    # (4) mode / kinds typos fail at plan time
    for name, kw in (
        ("text_decontaminate", {"mode": "Drop"}),
        ("text_quality_prune", {"mode": "remove"}),
    ):
        with pytest.raises(ValueError, match="mode"):
            t(name, **kw) if name != "text_decontaminate" else \
                __import__("lakehouse_engine_spark.datapipes.text",
                           fromlist=["decontaminate"]).decontaminate(
                    bench, mode="Drop")
    with pytest.raises(ValueError, match="kinds"):
        t("text_pii_redact", kinds=["emails"])


def test_r14_stats_layout_review_fixes(spark):
    """Regression pins for the round-14 events/numeric/profiling/layout/
    diff review findings."""
    import math

    # (1) winsorize/robust_scale/zscore: NULL group keys keep their rows
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), (None, 10.0), (None, 20.0)]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    for name in ("winsorize", "robust_scale", "zscore_normalize"):
        out = df.transform(t(name, value_col="v", group_cols=["g"]))
        assert out.count() == 5, name
        assert out.filter("g IS NULL").count() == 2, name

    # (2) profile_columns: typed extrema, collision-free quantile names
    prof = spark.createDataFrame(
        [(2,), (10,)], "x INT"
    ).transform(t("profile_columns", quantiles=[0.5, 0.99, 0.999]))
    row = prof.collect()[0]
    assert row["min_str"] == "2" and row["max_str"] == "10"
    assert {"p50", "p99", "p99_9"} <= set(prof.columns)

    # (3) cohort_retention: quarter/year offsets count whole buckets
    import datetime as dt

    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 5)), (1, dt.datetime(2024, 4, 2)),
         (1, dt.datetime(2025, 2, 1))],
        "user_id LONG, ts TIMESTAMP",
    )
    qr = {r["period_offset"] for r in ev.transform(
        t("cohort_retention", on=["user_id"], bucket="quarter")
    ).collect()}
    assert qr == {0, 1, 4}
    yr = {r["period_offset"] for r in ev.transform(
        t("cohort_retention", on=["user_id"], bucket="year")
    ).collect()}
    assert yr == {0, 1}
    with pytest.raises(ValueError, match="bucket"):
        t("cohort_retention", on=["user_id"], bucket="hour")

    # (4) correlation_matrix: 12 columns no longer alias-collide
    import random

    rng = random.Random(7)
    wide = spark.createDataFrame(
        [tuple(rng.randint(0, 100) for _ in range(12)) for _ in range(30)],
        ", ".join(f"c{i} INT" for i in range(12)),
    )
    corr = wide.transform(
        t("correlation_matrix", value_cols=[f"c{i}" for i in range(12)])
    )
    assert corr.count() == 12 * 11 // 2

    # (5) trend_fit: constant NON-integer x yields NULL slope (the fp
    # cancellation residue used to emit garbage)
    tf = spark.createDataFrame(
        [("g", 0.1, 1.0), ("g", 0.1, 2.0), ("g", 0.1, 3.0)],
        "k STRING, x DOUBLE, y DOUBLE",
    ).transform(t("trend_fit", x_col="x", y_col="y", group_cols=["k"]))
    r = tf.collect()[0]
    assert r["slope"] is None and r["intercept"] is None and r["r2"] is None

    # (6) snapshot_diff: NULL key components match null-safely
    from lakehouse_engine_spark.datapipes.diff import snapshot_diff

    old_snap = spark.createDataFrame(
        [(None, "v1"), (1, "v1")], "k INT, payload STRING"
    )
    new_snap = spark.createDataFrame(
        [(None, "v1"), (1, "v2")], "k INT, payload STRING"
    )
    got = {r["status"]: r["n"] for r in new_snap.transform(
        snapshot_diff(old_snap, key_cols=["k"])
    ).collect()}
    assert got == {"unchanged": 1, "changed": 1}

    # (7) event_pattern_match: empty-matchable patterns rejected
    with pytest.raises(ValueError, match="empty"):
        t("event_pattern_match", on=["u"], symbols={"x = 1": "A"},
          pattern="A*")

    # (8) layout_zorder: bits_per_col=0 rejected (was a silent constant
    # key collapsing the clustered write)
    with pytest.raises(ValueError, match="bits_per_col"):
        t("layout_zorder", cols=["a"], bits_per_col=0)


# ------------------------------------- curation plans vs the plans they replaced
# text_decontaminate(_spans), mixture_plan and bpe_encode/bpe_byte_encode
# each compile to the smallest plan that gives their rows. The plans they
# replaced stay here as oracles: the new rows must equal theirs.


def _jobs_of(spark, fn):
    """Number of Spark jobs fn() fires."""
    import uuid

    sc = spark.sparkContext
    group = f"curation-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def decon_case(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d a b c d"),  # "a b c" and "b c d" twice in one doc
            (2, "x a b c y"),
            (3, "b c d e f"),
            (4, None),
            (5, "a b"),  # shorter than the n-gram: one whole-text gram
            (6, "nothing shared here at all"),
        ],
        "doc_id INT, text STRING",
    )
    bench = spark.createDataFrame(
        [
            (1, "a b c d a b c"),  # "a b c" twice in one benchmark item
            (2, "a b c d"),  # and its grams again in a second item
            (3, "A B"),
        ],
        "bid INT, text STRING",
    )
    return docs, bench


def _decontaminate_distinct_join(docs, bench, ngram, mode):
    """text_decontaminate's former plan: the DISTINCT benchmark gram set
    inner-joined to per-doc deduplicated corpus grams, then counted."""
    from lakehouse_engine_spark.datapipes.text import shingles

    bgrams = bench.select(F.explode(shingles(F.col("text"), ngram)).alias("__g"))
    bgrams = F.broadcast(bgrams.select(F.md5("__g").alias("__gh")).distinct())
    grams = (
        docs.select(
            F.col("doc_id").alias("__id"),
            F.explode(shingles(F.col("text"), ngram)).alias("__g"),
        )
        .select("__id", F.md5("__g").alias("__gh"))
        .dropDuplicates(["__id", "__gh"])
    )
    hits = grams.join(bgrams, "__gh").groupBy("__id").agg(
        F.count(F.lit(1)).alias("__nhit")
    )
    out = docs.join(hits, docs["doc_id"] == hits["__id"], "left").drop("__id")
    n = F.coalesce("__nhit", F.lit(0))
    out = out.withColumns(
        {"n_contaminated_ngrams": n.cast("int"), "is_contaminated": n > 0}
    ).drop("__nhit")
    if mode == "drop":
        return out.filter(~F.col("is_contaminated")).drop(
            "n_contaminated_ngrams", "is_contaminated"
        )
    return out


@pytest.mark.parametrize("mode", ["flag", "drop"])
def test_decontaminate_semi_join_matches_distinct_join(decon_case, mode):
    """Duplicate benchmark grams cannot multiply a left_semi probe, and
    n_contaminated_ngrams still counts DISTINCT matching grams per doc."""
    docs, bench = decon_case
    got = docs.transform(
        t("text_decontaminate", benchmark_df=bench, ngram=3, mode=mode)
    )
    want = _decontaminate_distinct_join(docs, bench, 3, mode)
    rows = got.collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want.collect()))
    if mode == "flag":
        n = {r["doc_id"]: r["n_contaminated_ngrams"] for r in rows}
        # doc 1 holds 4 distinct benchmark grams, 6 with repeats
        assert n == {1: 4, 2: 1, 3: 1, 4: 0, 5: 1, 6: 0}


def test_decontaminate_corpus_side_has_no_pair_exchange(decon_case):
    """The corpus grams are not deduplicated on (doc, gram): the plan's
    only corpus-side exchange is the per-doc count of matching grams."""
    import re

    docs, bench = decon_case
    pair = re.compile(r"hashpartitioning\(__id#\d+, __gh#")
    old = _decontaminate_distinct_join(docs, bench, 3, "flag")
    assert pair.search(_executed_plan(old))
    new = docs.transform(t("text_decontaminate", benchmark_df=bench, ngram=3))
    assert not pair.search(_executed_plan(new))


def test_decontaminate_spans_ignores_benchmark_duplicates(spark):
    """A benchmark whose grams repeat, within an item and across items,
    cuts the same spans as one copy of each gram."""
    once = spark.createDataFrame([(1, "p q r s")], "bid INT, text STRING")
    dup = spark.createDataFrame(
        [(1, "p q r s p q r s"), (2, "p q r s"), (3, "P Q R S")],
        "bid INT, text STRING",
    )
    docs = spark.createDataFrame(
        [
            (1, "a b c p q r s d e f"),
            (2, "p q r s p q r s"),
            (3, "clean text only here"),
            (4, None),
            (5, "p q"),
        ],
        "doc_id INT, text STRING",
    )

    def run(bench):
        out = docs.transform(
            t("text_decontaminate_spans", benchmark_df=bench, ngram=3,
              min_fragment_tokens=1)
        )
        return sorted(map(tuple, out.collect()), key=lambda r: r[0])

    got = run(dup)
    assert got == run(once)
    by_id = {r[0]: r for r in got}
    assert by_id[1][2:] == (["a b c", "d e f"], 4, 2)
    # "s p q" and "r s p" are benchmark grams only in the repeated item
    assert by_id[2][2:] == ([], 8, 0)


def test_decontaminate_ignores_empty_benchmark_rows(spark):
    """A NULL benchmark row gives no gram: the NULL, empty and
    whitespace-only corpus documents stay clean under all three ops."""
    bench = spark.createDataFrame(
        [(1, "some benchmark question text"), (2, None)], "bid INT, text STRING"
    )
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "some benchmark question text")],
        "doc_id INT, text STRING",
    )
    flagged = docs.transform(
        t("text_decontaminate", benchmark_df=bench, ngram=3)
    ).collect()
    assert {r["doc_id"]: r["n_contaminated_ngrams"] for r in flagged} == {
        1: 0, 2: 0, 3: 0, 4: 2,
    }
    kept = docs.transform(
        t("text_decontaminate", benchmark_df=bench, ngram=3, mode="drop")
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 3]
    bloom = docs.transform(
        t("text_decontaminate_bloom", benchmark_df=bench, ngram=3)
    ).collect()
    assert {r["doc_id"]: r["maybe_contaminated"] for r in bloom} == {
        1: False, 2: False, 3: False, 4: True,
    }
    spans = docs.transform(
        t("text_decontaminate_spans", benchmark_df=bench, ngram=3)
    ).collect()
    assert {r["doc_id"]: r["n_removed_tokens"] for r in spans} == {
        1: 0, 2: 0, 3: 0, 4: 4,
    }


def _mixture_rows_weights_join(df, group_col, weights, budget, token_col, cap_ppm):
    """mixture_plan's former plan: a Python-list weights table left-joined
    to a broadcast groupBy of the planned groups, then the integer
    arithmetic replayed on the driver."""
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(g, int(p)) for g, p in sorted(weights.items())],
        f"`{group_col}` string, parts long",
    )
    src = df.withColumn(group_col, F.col(group_col).cast("string"))
    avail = (
        src.where(F.col(group_col).isin(list(weights)))
        .groupBy(group_col)
        .agg(F.sum(F.col(token_col).cast("long")).alias("available"))
    )
    total = sum(weights.values())
    rows = []
    for g, parts, avail_ in wdf.join(F.broadcast(avail), group_col, "left").collect():
        avail_ = avail_ or 0
        desired = budget * parts // total
        plan = min(desired, cap_ppm * avail_ // 1_000_000)
        rate = plan * 1_000_000 // avail_ if avail_ > 0 else 0
        epochs = desired * 1_000_000 // avail_ if avail_ > 0 else 0
        rows.append(
            (g, parts, avail_, desired, plan, plan < desired, rate, epochs,
             desired - plan)
        )
    return sorted(rows)


@pytest.mark.parametrize(
    "corpus, weights",
    [
        (
            "SELECT id AS doc_id, element_at(array('en', 'de', NULL), "
            "int(id % 3) + 1) AS lang, IF(id % 5 = 0, NULL, id) AS n_tokens "
            "FROM range(60)",
            {"en": 50, "de": 30, "xx": 20},
        ),
        (
            "SELECT id AS doc_id, int(id % 4) AS lang, id AS n_tokens FROM range(40)",
            {"1": 3, "2": 1, "7": 1},
        ),
        ("SELECT 1L AS doc_id, 'en' AS lang, 5L AS n_tokens WHERE false",
         {"en": 1, "de": 1}),
    ],
    ids=["null-groups-and-tokens", "int-groups", "empty-corpus"],
)
def test_mixture_plan_matches_weights_join(spark, corpus, weights):
    df = spark.sql(corpus)
    got = df.transform(
        t("mixture_plan", group_col="lang", weights=weights,
          budget_tokens=10_000, max_epochs_ppm=1_500_000)
    )
    want = _mixture_rows_weights_join(df, "lang", weights, 10_000, "n_tokens", 1_500_000)
    assert sorted(map(tuple, got.collect())) == want
    assert got.schema["lang"].dataType.simpleString() == "string"


def test_mixture_plan_is_one_aggregate(spark):
    """No Python-side weights table, no join, one output partition."""
    df = spark.sql(
        "SELECT id AS doc_id, element_at(array('en', 'de'), int(id % 2) + 1) AS lang, "
        "id AS n_tokens FROM range(20)"
    )
    out = df.transform(
        t("mixture_plan", group_col="lang", weights={"en": 2, "de": 1},
          budget_tokens=100)
    )
    plan = _executed_plan(out)
    assert "ExistingRDD" not in plan and "Join" not in plan
    assert out.rdd.getNumPartitions() == 1


# merge ranks out of order across partitions, with a NULL rank (Spark's
# ascending order puts it first): rank order gives "abc" -> abc and
# "bcd" -> b cd, while descending order would give a bc and bc d
_SHUFFLED_MERGES = [(2, "ab", "c"), (1, "b", "c"), (0, "a", "b"), (None, "c", "d")]


@pytest.mark.parametrize("op", ["bpe_encode", "bpe_byte_encode"])
def test_bpe_merge_list_matches_ordered_collect(spark, monkeypatch, op):
    from lakehouse_engine_spark.datapipes import bpe

    merges = spark.createDataFrame(
        [(r, a, b, a + b) for r, a, b in _SHUFFLED_MERGES],
        "rank INT, left STRING, right STRING, merged STRING",
    ).repartition(3)
    docs = spark.createDataFrame(
        [(1, "abc bcd"), (2, "cd ab"), (3, "")], "doc_id INT, text STRING"
    )

    def encode():
        out = docs.transform(t(op, merges=merges))
        return sorted(map(tuple, out.collect()), key=lambda r: r[0])

    got = encode()
    monkeypatch.setattr(
        bpe,
        "_merge_list",
        lambda m: [(r["left"], r["right"]) for r in m.orderBy("rank").collect()],
    )
    assert got == encode()
    end = ["</w>"] if op == "bpe_encode" else []
    assert got[0][2] == ["abc"] + end + ["b", "cd"] + end


# Spark jobs each curation op fires on the fixtures above, plan build and
# collect together. The former plans fired 7, 3 and 6: an exchange for the
# distinct benchmark grams and one for the (doc, gram) dropDuplicates; a
# Python-list weights table joined to a broadcast groupBy; an orderBy of
# the merge table (range sample, shuffle, collect)
CURATION_JOBS = {
    "text_decontaminate": 5,
    "mixture_plan": 2,
    "bpe_encode": 4,
    "bpe_byte_encode": 4,
}


def test_curation_ops_fire_only_the_jobs_their_results_need(spark, decon_case):
    docs, bench = decon_case
    corpus = spark.sql(
        "SELECT id AS doc_id, element_at(array('en', 'de', 'fr'), int(id % 3) + 1) "
        "AS lang, id AS n_tokens FROM range(40)"
    )
    merges = spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate([("a", "b"), ("ab", "c")])],
        "rank INT, left STRING, right STRING, merged STRING",
    )
    runs = {
        "text_decontaminate": lambda: docs.transform(
            t("text_decontaminate", benchmark_df=bench, ngram=3)
        ).collect(),
        "mixture_plan": lambda: corpus.transform(
            t("mixture_plan", group_col="lang", weights={"en": 5, "de": 3, "xx": 2},
              budget_tokens=1000)
        ).collect(),
        "bpe_encode": lambda: docs.transform(t("bpe_encode", merges=merges)).collect(),
        "bpe_byte_encode": lambda: docs.transform(
            t("bpe_byte_encode", merges=merges)
        ).collect(),
    }
    assert {op: _jobs_of(spark, run) for op, run in runs.items()} == CURATION_JOBS
