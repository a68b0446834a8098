"""Multimodal plumbing tests: binary payload column through Arrow-batched
mapInPandas feature extraction."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.multimodal import (
    attach_fake_payload,
    extract_features,
    resize_images,
    sample_frames,
)
from tvbigdataproject_spark.sources import read_table

SF_DIR = "/root/testdata/sf0.001"


def test_extract_features_ground_truth(spark):
    docs = read_table(spark, SF_DIR, "documents").limit(5)
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    out = {r["doc_id"]: r for r in extract_features(attach_fake_payload(docs)).collect()}
    assert set(out) == set(src)
    for doc_id, text in src.items():
        payload = text.encode("utf-8")
        row = out[doc_id]
        assert row["n_bytes"] == len(payload)
        assert row["sha256"] == hashlib.sha256(payload).hexdigest()
        d = hashlib.sha256(payload).digest()
        assert row["width"] == (d[0] << 8 | d[1]) % 640
        assert row["height"] == (d[2] << 8 | d[3]) % 480
        assert 0 <= row["width"] < 640 and 0 <= row["height"] < 480


def test_feature_schema_is_declared(spark):
    docs = read_table(spark, SF_DIR, "documents").limit(1)
    df = extract_features(attach_fake_payload(docs))
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,media_type:string,n_bytes:bigint,"
        "sha256:string,width:int,height:int>"
    )


def test_resize_ground_truth(spark):
    docs = read_table(spark, SF_DIR, "documents").limit(8)
    out = resize_images(attach_fake_payload(docs), max_dim=256).collect()
    assert len(out) == 8
    for row in out:
        w, h = row["width"], row["height"]
        if max(w, h) <= 256:
            assert (row["new_width"], row["new_height"]) == (w, h)
        else:
            m = max(w, h)
            assert row["new_width"] == w * 256 // m
            assert row["new_height"] == h * 256 // m
            assert max(row["new_width"], row["new_height"]) == 256


def test_frame_sample_ground_truth(spark):
    docs = read_table(spark, SF_DIR, "documents").limit(3)
    src = {r["doc_id"]: r["text"].encode("utf-8") for r in docs.collect()}
    rows = sample_frames(attach_fake_payload(docs), frame_bytes=16, every=4).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, payload in src.items():
        got = sorted(by_doc.get(doc_id, []), key=lambda r: r["frame_idx"])
        expect_idx = list(range(0, len(payload) // 16, 4))
        assert [r["frame_idx"] for r in got] == expect_idx
        for r in got:
            i = r["frame_idx"]
            assert r["frame_sha"] == hashlib.sha256(payload[i * 16 : (i + 1) * 16]).hexdigest()


def test_corpus_is_ascii(spark):
    # the frame-sample oracle slices text with substr(): only valid while
    # char slicing == byte slicing, i.e. the corpus is pure ASCII
    docs = read_table(spark, SF_DIR, "documents")
    n = docs.where(F.length("text") != F.octet_length("text")).count()
    assert n == 0
