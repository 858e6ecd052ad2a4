"""Seeded fuzz of the shared 64-bit-fingerprint index engine
(scale/fp_index.py) against a pure-Python brute-force reference.

The modality members (image/audio/video) lock their hash functions in their
own suites; here a synthetic family whose "hash" IS the content column
drives the ENGINE through random lifecycles — build, append (including
an id re-appended under a different fingerprint), tombstone delete,
compact — and every match must equal the brute-force Hamming scan of
the live store, as a multiset of (id_a, id_b, hamming). This pins the
pigeonhole banding (exact recall within the build budget), the exact-
leg/fuzzy-leg split, replica fan-out, tombstone masking, and compact
invisibility in one property."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from datar_polars_spark.tibble import Tibble
from datar_polars_spark.scale.fp_index import (
    FpFamily,
    fp_dedup_against_index,
    fp_index_append,
    fp_index_build,
    fp_index_compact,
    fp_index_delete,
    fp_index_stats,
    fp_match_with_base,
)

# r15: heavy property/fuzz breadth — skipped by the default
# "-m not slow" run (driver verify window); tools/partest.py and
# any explicit -m override still run it in full.
pytestmark = pytest.mark.slow

FAM = FpFamily(
    name="fuzz",
    fp_col="zfp",
    count_key="n_items",
    hash_base=lambda df, c, i, strict: df.select(
        F.col(i).alias("id"), F.col(c).alias("zfp")
    ).filter(F.col("id").isNotNull() & F.col("zfp").isNotNull()),
)


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def _rand_fp(rng) -> int:
    return int(rng.integers(-(2**63), 2**63, dtype=np.int64))


def _near(rng, fp: int, k: int) -> int:
    u = fp & ((1 << 64) - 1)
    for bit in rng.choice(64, size=k, replace=False):
        u ^= 1 << int(bit)
    return u - (1 << 64) if u >= (1 << 63) else u


def _frame(spark, rows):
    return Tibble(
        spark.createDataFrame(list(rows), "item_id long, content long")
    )


def _brute(batch, store, budget):
    out = []
    for ia, fa in batch:
        if ia is None or fa is None:
            continue
        for ib, fb in store:
            h = _ham(fa, fb)
            if h <= budget:
                out.append((ia, ib, h))
    return sorted(out)


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_fuzz_engine_vs_brute_force(spark, tmp_path, seed):
    rng = np.random.default_rng(1000 + seed)
    budget = int(rng.integers(0, 7))  # 0 hits the full-width-band edge
    path = str(tmp_path / "zidx")

    # corpus: unique fingerprints + one replicated fingerprint
    corpus = [(i, _rand_fp(rng)) for i in range(1, 31)]
    corpus.append((31, corpus[0][1]))  # store-side replica
    fp_index_build(
        FAM, _frame(spark, corpus), "content", "item_id", path,
        max_hamming=budget, max_bucket=10_000, strict=False,
        mode="overwrite",
    )

    # increment: fresh rows + id 5 RE-APPENDED under a different
    # fingerprint (the id legitimately matches once per fingerprint)
    incr = [(i, _rand_fp(rng)) for i in range(40, 50)]
    incr.append((5, _rand_fp(rng)))
    fp_index_append(
        FAM, _frame(spark, incr), path, "content", "item_id",
        strict=False,
    )
    live = corpus + incr

    # batch: planted exacts, planted near-dups at every distance in
    # [1, budget] (when budget > 0), replicas, far rows, NULLs
    batch = [(100, live[2][1]), (101, live[2][1])]  # batch replicas
    nid = 110
    for k in range(1, budget + 1):
        batch.append((nid, _near(rng, live[10][1], k)))
        nid += 1
    batch += [(nid + j, _rand_fp(rng)) for j in range(10)]
    batch += [(200, None), (None, _rand_fp(rng))]

    def check():
        pairs, _ = fp_match_with_base(
            FAM, _frame(spark, batch), path, "content", "item_id",
            max_hamming=None, max_bucket=10_000, strict=False,
        )
        got = sorted(
            (r.id_a, r.id_b, r.hamming) for r in pairs.df.collect()
        )
        assert got == _brute(batch, live, budget)
        surv = fp_dedup_against_index(
            FAM, _frame(spark, batch), path, "content", "item_id",
            max_hamming=None, max_bucket=10_000, strict=False,
            append=False,
        )
        matched = {a for a, _, _ in got}
        want = sorted(
            (i for i, _ in batch if i not in matched),
            key=lambda x: (x is None, x),
        )
        assert sorted(
            (r.item_id for r in surv.df.collect()),
            key=lambda x: (x is None, x),
        ) == want

    check()

    # tombstone a random live subset -> masked immediately
    dead = [
        live[int(j)][0]
        for j in rng.choice(len(live), size=6, replace=False)
    ]
    fp_index_delete(FAM, spark, path, dead)
    live = [(i, fp) for i, fp in live if i not in set(dead)]
    check()

    # compact folds the tombstones physically; matching is invisible
    st = fp_index_compact(FAM, spark, path)
    assert st["n_tombstones"] == 0
    assert st["n_items"] == len({(i, fp) for i, fp in live})
    check()


def test_build_hashes_each_row_once(spark, tmp_path):
    """The build's fingerprint pass must run ONCE across the two store
    writes (hashes + postings are separate actions; without the
    internal persist the pass re-ran per write — 2x the whole build
    cost on decode-heavy modalities). The counting hash uses
    mapInPandas like the real families — a one-shot operator node that
    a downstream filter cannot duplicate, unlike a scalar-UDF
    expression (which a filter on its output evaluates a second time,
    and which would make this count 2n even with the persist)."""
    acc = spark.sparkContext.accumulator(0)

    def counting_hash(df, c, i, strict):
        def batches(it):
            for pdf in it:
                acc.add(len(pdf))
                pdf = pdf.copy()
                pdf["zfp"] = pdf[c]
                yield pdf[[i, "zfp"]].rename(columns={i: "id"})

        return df.mapInPandas(
            batches, "id long, zfp long"
        ).filter(F.col("id").isNotNull() & F.col("zfp").isNotNull())

    fam = FpFamily(
        name="count", fp_col="zfp", count_key="n_items",
        hash_base=counting_hash,
    )
    n = 40
    fp_index_build(
        fam, _frame(spark, [(i, i * 7) for i in range(n)]),
        "content", "item_id", str(tmp_path / "idx"),
        max_hamming=4, max_bucket=1000, strict=False, mode="overwrite",
    )
    assert acc.value == n, acc.value  # once per row, not once per store


@pytest.mark.parametrize("append", [False, True])
def test_dedup_evaluates_batch_once(spark, tmp_path, append):
    """fp_dedup_against_index must run the batch's lazy plan ONCE: the
    match's hash pass, the survivor anti-join and the append all read
    one materialization. Same mapInPandas accumulator as
    test_dedup_index.test_dedup_against_index_evaluates_batch_once; the
    groupBy above the counted node puts a shuffle under the batch."""
    path = str(tmp_path / "idx")
    fp_index_build(
        FAM, _frame(spark, [(1, 0), (2, (1 << 40) - 1)]),
        "content", "item_id", path,
        max_hamming=4, max_bucket=1000, strict=False, mode="overwrite",
    )
    acc = spark.sparkContext.accumulator(0)
    rows = [(10, 0), (11, 1), (12, (1 << 40) - 2)] + [
        (20 + i, (i + 3) * 0x1234567) for i in range(10)
    ]
    n = len(rows)

    def counted(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    frame = (
        _frame(spark, rows).df
        .mapInPandas(counted, "item_id long, content long")
        .groupBy("item_id")
        .agg(F.first("content").alias("content"))
    )
    surv = fp_dedup_against_index(
        FAM, Tibble(frame), path, "content", "item_id",
        max_hamming=None, max_bucket=1000, strict=False, append=append,
    )
    kept = {r.item_id for r in surv.df.collect()}
    assert kept == {20 + i for i in range(10)}  # 10-12 match 1 or 2
    assert acc.value == n, acc.value  # once per row, not once per leg
