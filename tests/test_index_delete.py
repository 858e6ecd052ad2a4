"""Tombstone deletion for the persistent index family (r14):
*_index_delete masks ids at every store read immediately, and
*_index_compact folds the tombstones physically and clears the
sidecar (scale/tombstones.py)."""

from __future__ import annotations

import pathlib

import numpy as np
import pytest

from datar_polars_spark import Tibble, f, tibble
from datar_polars_spark.scale import (
    dedup_against_image_index,
    dedup_against_index,
    dedup_against_semantic_index,
    dedup_index_append,
    dedup_index_build,
    dedup_index_compact,
    dedup_index_delete,
    dedup_index_stats,
    image_index_build,
    image_index_compact,
    image_index_delete,
    image_index_stats,
    match_against_image_index,
    match_against_index,
    match_against_semantic_index,
    semantic_index_build,
    semantic_index_compact,
    semantic_index_delete,
    semantic_index_stats,
)
from datar_polars_spark.scale.codecs import make_png_pixels

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tonight"
FAR = "completely different content about spark catalyst optimizer internals"


def test_dedup_index_delete_masks_then_compact_folds(tmp_path, spark):
    path = str(tmp_path / "didx")
    corpus = tibble(spark, doc_id=[1, 2], text=[BASE, FAR])
    dedup_index_build(corpus, f.text, f.doc_id, path)
    probe = tibble(spark, doc_id=[10, 11, 12], text=[BASE, NEAR, FAR])

    def hits():
        return sorted(
            (r.id_a, r.id_b, r.via)
            for r in match_against_index(
                probe, path, threshold=0.5
            ).df.collect()
        )

    assert hits() == [
        (10, 1, "exact"), (11, 1, "minhash"), (12, 2, "exact")
    ]
    out = dedup_index_delete(spark, path, [1])
    assert out["n_tombstones"] == 1
    # doc 1 is dead: its exact AND fuzzy matches vanish; doc 2 lives
    after_delete = hits()
    assert after_delete == [(12, 2, "exact")]
    # dedup consistency: the rows that only matched the dead doc survive
    surv = sorted(
        dedup_against_index(probe, path, threshold=0.5)
        .collect()["doc_id"].tolist()
    )
    assert surv == [10, 11]
    # compact folds: results identical, sidecar gone, stores shrink
    out = dedup_index_compact(spark, path)
    assert out["n_tombstones"] == 0
    assert hits() == after_delete
    assert not (tmp_path / "didx" / "tombstones").exists()
    stats = dedup_index_stats(spark, path)
    assert stats["n_fingerprints"] == 1 and stats["n_signatures"] == 1


def test_dedup_index_delete_then_reappend_after_compact(tmp_path, spark):
    # mask-until-compact contract: a tombstoned id is dead even if
    # re-appended; after compact folds the tombstone, a fresh append
    # resurrects it
    path = str(tmp_path / "didx")
    dedup_index_build(
        tibble(spark, doc_id=[1], text=[BASE]), f.text, f.doc_id, path
    )
    dedup_index_delete(spark, path, [1])
    dedup_index_append(tibble(spark, doc_id=[1], text=[BASE]), path)
    probe = tibble(spark, doc_id=[10], text=[BASE])
    assert match_against_index(probe, path).df.count() == 0  # still masked
    dedup_index_compact(spark, path)
    dedup_index_append(tibble(spark, doc_id=[1], text=[BASE]), path)
    assert match_against_index(probe, path).df.count() == 1  # resurrected


def _vec(i, dim=8):
    rng = np.random.default_rng(i)
    v = rng.normal(size=dim)
    return [float(x) for x in v / np.linalg.norm(v)]


def test_semantic_index_delete_masks_then_compact_folds(tmp_path, spark):
    path = str(tmp_path / "sidx")
    corpus = Tibble(spark.createDataFrame(
        [(1, _vec(1)), (2, _vec(2))], "id long, emb array<double>"
    ))
    semantic_index_build(corpus, f.emb, f.id, path, bands=8, planes_per_band=4)
    batch = Tibble(spark.createDataFrame(
        [(10, _vec(1)), (11, _vec(2))], "id long, emb array<double>"
    ))

    def hits():
        return sorted(
            (r.id_a, r.id_b)
            for r in match_against_semantic_index(
                batch, path, threshold=0.99
            ).df.collect()
        )

    assert hits() == [(10, 1), (11, 2)]
    out = semantic_index_delete(
        spark, path, spark.createDataFrame([(1,)], "id long")  # frame form
    )
    assert out["n_tombstones"] == 1
    assert hits() == [(11, 2)]
    surv = sorted(
        r.id for r in dedup_against_semantic_index(
            batch, path, threshold=0.99
        ).df.collect()
    )
    assert surv == [10]
    out = semantic_index_compact(spark, path)
    assert out["n_tombstones"] == 0 and out["n_vectors"] == 1
    assert hits() == [(11, 2)]
    assert not (tmp_path / "sidx" / "tombstones").exists()


def _img(t):
    rng = np.random.default_rng(t)
    return rng.integers(0, 255, (16, 24, 3), dtype=np.uint8)


def _itd(spark, rows):
    return Tibble(spark.createDataFrame(
        [(i, bytearray(b)) for i, b in rows], "img_id long, content binary"
    ))


def test_image_index_delete_masks_then_compact_folds(tmp_path, spark):
    path = str(tmp_path / "iidx")
    corpus = _itd(spark, [(i + 1, make_png_pixels(_img(i))) for i in range(2)])
    image_index_build(corpus, "content", "img_id", path)
    batch = _itd(spark, [
        (10, make_png_pixels(_img(0))), (11, make_png_pixels(_img(1))),
    ])

    def hits():
        return sorted(
            (r.id_a, r.id_b)
            for r in match_against_image_index(batch, path).df.collect()
        )

    assert hits() == [(10, 1), (11, 2)]
    out = image_index_delete(spark, path, [1])
    assert out["n_tombstones"] == 1
    assert hits() == [(11, 2)]
    surv = sorted(
        r.img_id
        for r in dedup_against_image_index(batch, path).df.collect()
    )
    assert surv == [10]
    out = image_index_compact(spark, path)
    assert out["n_tombstones"] == 0 and out["n_images"] == 1
    assert hits() == [(11, 2)]
    assert not (tmp_path / "iidx" / "tombstones").exists()
    # postings physically lack the dead id
    postings = spark.read.schema("bval bigint, id long, band int").parquet(
        f"{path}/postings"
    )
    assert postings.filter("id = 1").count() == 0


def test_stream_image_dedup_respects_tombstones(tmp_path, spark):
    # the streaming consumers read the same stores: a tombstoned id
    # must stop dropping stream rows immediately (no compact needed)
    from datar_polars_spark.streaming import stream_image_dedup

    path = str(tmp_path / "iidx")
    image_index_build(
        _itd(spark, [(1, make_png_pixels(_img(0)))]),
        "content", "img_id", path,
    )
    image_index_delete(spark, path, [1])
    src = str(tmp_path / "in")
    _itd(spark, [(10, make_png_pixels(_img(0)))]).df.write.parquet(src)
    sdf = spark.readStream.schema(
        "img_id long, content binary"
    ).parquet(src)
    out = stream_image_dedup(sdf, path, mode="filter")
    q = (
        out.writeStream.format("memory").queryName("tomb_f")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = [r.img_id for r in spark.sql("select * from tomb_f").collect()]
    assert got == [10]  # the dup-of-a-deleted-id passes through clean


def test_delete_input_validation(tmp_path, spark):
    path = str(tmp_path / "didx")
    dedup_index_build(
        tibble(spark, doc_id=[1], text=[BASE]), f.text, f.doc_id, path
    )
    # empty delete: no-op, no sidecar created
    out = dedup_index_delete(spark, path, [])
    assert out["n_tombstones"] == 0
    assert not (tmp_path / "didx" / "tombstones").exists()
    # multi-column frame rejected
    with pytest.raises(ValueError, match="one-column"):
        dedup_index_delete(
            spark, path, spark.createDataFrame([(1, 2)], "a long, b long")
        )


def _final_plan(df):
    """Execute, then render the FINAL adaptive plan (post-AQE join
    strategies, not the speculative initial ones)."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_dedup_index_small_batch_store_joins_broadcast(tmp_path, spark):
    """r14 plan lock: for a small batch, the batch side of every
    store join is broadcast (explicit pins for the exact/anti/bucket
    legs — the r5 finding that AQE does not reliably demote applies)
    and the fuzzy-survivor derivation uses the broadcastable
    matched-fp set, so NO corpus-scale store shuffles: zero
    SortMergeJoin in the final plan. Both verify modes: the batch side
    of the verify join (signatures / gram sets) is pinned too — left to
    AQE, the candidate x batch-signature join plans as a
    SortMergeJoin."""
    path = str(tmp_path / "didx")
    dedup_index_build(
        tibble(spark, doc_id=[1, 2], text=[BASE, FAR]),
        f.text, f.doc_id, path, store_grams=True,
    )
    probe = tibble(spark, doc_id=[10, 11], text=[BASE, NEAR])
    for verify in ("estimate", "exact"):
        plan = _final_plan(
            match_against_index(
                probe, path, threshold=0.5, verify=verify
            ).df
        )
        assert plan.count("SortMergeJoin") == 0, verify
        assert plan.count("BroadcastHashJoin") > 0, verify


def test_semantic_index_small_batch_store_joins_broadcast(tmp_path, spark):
    path = str(tmp_path / "sidx")
    corpus = Tibble(spark.createDataFrame(
        [(1, _vec(1)), (2, _vec(2))], "id long, emb array<double>"
    ))
    semantic_index_build(corpus, f.emb, f.id, path, bands=8, planes_per_band=4)
    batch = Tibble(spark.createDataFrame(
        [(10, _vec(1)), (11, _vec(3))], "id long, emb array<double>"
    ))
    plan = _final_plan(
        match_against_semantic_index(batch, path, threshold=0.9).df
    )
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("BroadcastHashJoin") > 0
    # hash-once: every Arrow signing render sits inside the persisted
    # batch's InMemoryRelation (mirror of the image index's lock)
    n_mem = plan.count("InMemoryTableScan")
    assert n_mem > 0
