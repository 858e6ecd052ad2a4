"""Persistent dedup index: build / match / dedup / append lifecycle
(scale/dedup_index.py) — the batch incremental-crawl dedup loop."""

import pytest

from datar_polars_spark import Tibble, f, tibble
from datar_polars_spark.scale import (
    dedup_against_index,
    dedup_index_append,
    dedup_index_build,
    match_against_index,
    minhash_join,
)

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tonight"
FAR = "completely different content about spark catalyst optimizer internals"
OTHER = "totally fresh sentences describing mountain weather patterns in spring"


@pytest.fixture()
def corpus(spark):
    return tibble(spark, doc_id=[1, 2], text=[BASE, FAR])


@pytest.fixture()
def batch(spark):
    return tibble(
        spark,
        doc_id=[10, 11, 12],
        text=[BASE, NEAR, OTHER],  # exact dup, near dup, fresh
    )


def test_match_and_dedup(corpus, batch, tmp_path):
    path = str(tmp_path / "didx")
    dedup_index_build(corpus, f.text, f.doc_id, path)
    hits = match_against_index(batch, path, threshold=0.5)
    got = {(r.id_a, r.id_b, r.via) for r in hits.df.collect()}
    assert (10, 1, "exact") in got
    assert (11, 1, "minhash") in got
    assert not any(r[0] == 12 for r in got)
    surv = dedup_against_index(batch, path, threshold=0.5).collect()
    assert sorted(surv["doc_id"].tolist()) == [12]


def test_exact_dup_reported_only_as_exact(corpus, batch, tmp_path):
    # identical copies are excluded from fuzzy candidate generation
    # (pre-pass rationale): doc 10 must appear ONLY in 'exact' rows
    path = str(tmp_path / "didx")
    dedup_index_build(corpus, f.text, f.doc_id, path)
    hits = match_against_index(batch, path, threshold=0.5).df.collect()
    vias = {r.via for r in hits if r.id_a == 10}
    assert vias == {"exact"}


def test_verify_exact_matches_minhash_join(spark, tmp_path):
    # verify='exact' drops must equal the from-scratch formulation:
    # exact-fp anti + minhash_join(verify='exact') on the fp survivors
    corpus = tibble(
        spark,
        doc_id=[1, 2, 3],
        text=[BASE, FAR, OTHER],
    )
    batch = tibble(
        spark,
        doc_id=[10, 11, 12, 13],
        text=[BASE, NEAR, OTHER + " and summer", "entirely novel text here"],
    )
    path = str(tmp_path / "didx")
    dedup_index_build(corpus, f.text, f.doc_id, path, store_grams=True)
    surv = dedup_against_index(
        batch, path, threshold=0.5, verify="exact"
    ).collect()

    from pyspark.sql import functions as F

    from datar_polars_spark.scale.dedup_index import _fingerprint

    bfp = batch.df.select("doc_id", _fingerprint(F.col("text")).alias("fp"))
    cfp = corpus.df.select(_fingerprint(F.col("text")).alias("cfp")).distinct()
    ex_surv = bfp.join(
        cfp, F.col("fp").eqNullSafe(F.col("cfp")), "left_anti"
    ).select("doc_id")
    remaining = Tibble(batch.df.join(ex_surv, "doc_id", "left_semi"))
    fuzzy_hits = minhash_join(
        remaining, corpus, f.text, f.doc_id, threshold=0.5, verify="exact"
    )
    expect = (
        remaining.df.join(
            fuzzy_hits.df.select(F.col("id_a").alias("doc_id")).distinct(),
            "doc_id", "left_anti",
        )
        .select("doc_id")
        .toPandas()["doc_id"]
        .tolist()
    )
    assert sorted(surv["doc_id"].tolist()) == sorted(expect)


def test_append_cycle(corpus, tmp_path, spark):
    path = str(tmp_path / "didx")
    dedup_index_build(corpus, f.text, f.doc_id, path)
    b1 = tibble(spark, doc_id=[10], text=[OTHER])
    s1 = dedup_against_index(b1, path, threshold=0.5, append=True).collect()
    assert s1["doc_id"].tolist() == [10]
    # second batch: exact copy of the admitted doc + a near-dup of it
    b2 = tibble(
        spark,
        doc_id=[20, 21, 22],
        text=[OTHER, OTHER + " indeed", "yet another brand new document"],
    )
    s2 = dedup_against_index(b2, path, threshold=0.5).collect()
    assert sorted(s2["doc_id"].tolist()) == [22]


def test_appended_survivors_rematch_as_dups(corpus, tmp_path, spark):
    # regression (r12, found live): the survivors frame returned by
    # append=True must be safe to compose with post-append store
    # reads — without the internal materialization, Spark's
    # scan/exchange reuse aliased the re-match's fresh fingerprint
    # read to the stale pre-append listing and found 0 of the 154
    # freshly admitted docs
    path = str(tmp_path / "didx")
    dedup_index_build(corpus, f.text, f.doc_id, path)
    batch = tibble(spark, doc_id=[10, 11], text=[OTHER, "another new doc"])
    surv = dedup_against_index(batch, path, threshold=0.5, append=True)
    hits = match_against_index(surv, path, threshold=0.5).df
    assert {(r.id_a, r.via) for r in hits.collect()} == {
        (10, "exact"),
        (11, "exact"),
    }
    again = dedup_against_index(surv, path, threshold=0.5).df
    assert again.count() == 0


def test_standalone_append_uses_sidecar_columns(corpus, tmp_path, spark):
    path = str(tmp_path / "didx")
    dedup_index_build(corpus, f.text, f.doc_id, path)
    dedup_index_append(tibble(spark, doc_id=[5], text=[OTHER]), path)
    hits = match_against_index(
        tibble(spark, doc_id=[30], text=[OTHER]), path, threshold=0.5
    ).df.collect()
    assert {(r.id_a, r.id_b) for r in hits} == {(30, 5)}


def test_null_id_batch_rows_always_survive(corpus, tmp_path, spark):
    path = str(tmp_path / "didx")
    dedup_index_build(corpus, f.text, f.doc_id, path)
    batch = Tibble(
        spark.createDataFrame(
            [(None, BASE), (40, BASE)], "doc_id bigint, text string"
        )
    )
    surv = dedup_against_index(batch, path, threshold=0.5).collect()
    # the NULL-id exact copy is exempt (family contract); 40 drops
    assert surv["doc_id"].isna().tolist() == [True]


def test_null_text_is_one_exact_cluster(tmp_path, spark):
    corpus = Tibble(
        spark.createDataFrame([(1, None)], "doc_id bigint, text string")
    )
    path = str(tmp_path / "didx")
    dedup_index_build(corpus, f.text, f.doc_id, path)
    batch = Tibble(
        spark.createDataFrame(
            [(10, None), (11, OTHER)], "doc_id bigint, text string"
        )
    )
    surv = dedup_against_index(batch, path, threshold=0.5).collect()
    assert surv["doc_id"].tolist() == [11]


def test_sidecar_params_drive_matching(corpus, batch, tmp_path):
    # build with a non-default permutation family; matching must
    # replay it from the sidecar (mismatched signatures would never
    # agree and the near-dup would be missed)
    path = str(tmp_path / "didx")
    dedup_index_build(corpus, f.text, f.doc_id, path, num_perm=32, bands=8)
    hits = match_against_index(batch, path, threshold=0.5).df.collect()
    assert any(r.id_a == 11 and r.via == "minhash" for r in hits)


def test_verify_exact_without_grams_raises(corpus, batch, tmp_path):
    path = str(tmp_path / "didx")
    dedup_index_build(corpus, f.text, f.doc_id, path)  # store_grams=False
    with pytest.raises(ValueError, match="store_grams"):
        match_against_index(batch, path, verify="exact")


def test_bad_sidecar_rejected(corpus, tmp_path, spark):
    from datar_polars_spark.scale.jsonio import write_json_file

    path = str(tmp_path / "notidx")
    write_json_file(spark, f"{path}/dedup_index.json", {"format": "other"})
    with pytest.raises(ValueError, match="sidecar"):
        match_against_index(corpus, path)


def test_num_perm_bands_divisibility(corpus, tmp_path):
    with pytest.raises(ValueError, match="divisible"):
        dedup_index_build(
            corpus, f.text, f.doc_id, str(tmp_path / "x"), num_perm=10, bands=4
        )


def test_no_cartesian_in_plan(corpus, batch, tmp_path):
    path = str(tmp_path / "didx")
    dedup_index_build(corpus, f.text, f.doc_id, path)
    plan = dedup_against_index(
        batch, path, threshold=0.5
    ).df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_stats(corpus, tmp_path, spark):
    from datar_polars_spark.scale import dedup_index_stats

    path = str(tmp_path / "didx")
    dedup_index_build(corpus, f.text, f.doc_id, path, num_perm=32, bands=8)
    st = dedup_index_stats(spark, path)
    assert st["num_perm"] == 32 and st["bands"] == 8
    assert st["n_fingerprints"] == 2 == st["n_signatures"]
    assert st["n_postings"] == 2 * 8  # one posting per doc per band
    assert "n_grams" not in st  # store_grams=False
    dedup_index_append(tibble(spark, doc_id=[5], text=[OTHER]), path)
    st2 = dedup_index_stats(spark, path)
    assert st2["n_fingerprints"] == 3 and st2["n_postings"] == 3 * 8


def test_empty_corpus_and_empty_batch(tmp_path, spark):
    # build over zero rows, match a real batch (nothing drops), then
    # match zero rows against a real index (empty survivors) — the
    # classic empty-partition crash surfaces
    empty = Tibble(
        spark.createDataFrame([], "doc_id bigint, text string")
    )
    path = str(tmp_path / "didx_empty")
    dedup_index_build(empty, f.text, f.doc_id, path)
    batch = tibble(spark, doc_id=[1], text=[BASE])
    assert dedup_against_index(batch, path).df.count() == 1
    path2 = str(tmp_path / "didx_real")
    dedup_index_build(batch, f.text, f.doc_id, path2)
    assert dedup_against_index(empty, path2).df.count() == 0


def test_char_analyzer_index(tmp_path, spark):
    # unsegmented CJK: word shingles fold a hanzi run into one token,
    # so an edited copy only matches through the char analyzer — the
    # sidecar must carry analyzer through build AND match signing
    zh = "机器学习模型训练数据质量直接决定下游任务表现因此需要系统化的数据清洗流程" * 2
    zh_edit = zh[:20] + "改" + zh[21:]
    corpus = tibble(spark, doc_id=[1], text=[zh])
    batch = tibble(spark, doc_id=[10], text=[zh_edit])
    wpath = str(tmp_path / "didx_word")
    dedup_index_build(corpus, f.text, f.doc_id, wpath)  # word analyzer
    assert dedup_against_index(batch, wpath, threshold=0.5).df.count() == 1
    cpath = str(tmp_path / "didx_char")
    dedup_index_build(
        corpus, f.text, f.doc_id, cpath, analyzer="char", shingle_chars=8
    )
    assert dedup_against_index(batch, cpath, threshold=0.5).df.count() == 0


def test_append_rejects_mismatched_id_dtype(corpus, tmp_path, spark):
    path = str(tmp_path / "didx")
    dedup_index_build(corpus, f.text, f.doc_id, path)  # bigint ids
    bad = Tibble(
        spark.createDataFrame([(7, OTHER)], "doc_id int, text string")
    )
    with pytest.raises(ValueError, match="id_type"):
        dedup_index_append(bad, path)


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_fuzz_against_python_brute_force(spark, tmp_path, seed):
    """Randomized differential: dedup_against_index(verify='exact')
    survivors == a pure-Python reference (normalized-md5 exact dedup
    + brute-force word-3-gram Jaccard vs the corpus)."""
    import hashlib
    import random
    import re

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 25)))

    corpus_rows = [(i, doc()) for i in range(40)]
    batch_rows = []
    for j in range(30):
        r = rng.random()
        if r < 0.3:            # exact copy of a corpus doc
            batch_rows.append((100 + j, rng.choice(corpus_rows)[1]))
        elif r < 0.6:          # perturbed copy (possible near-dup)
            words = rng.choice(corpus_rows)[1].split()
            k = rng.randrange(len(words))
            words[k] = rng.choice(vocab)
            batch_rows.append((100 + j, " ".join(words)))
        else:                  # fresh doc
            batch_rows.append((100 + j, doc()))

    def norm_fp(t):
        return hashlib.md5(
            re.sub(r"\s+", " ", t.strip().lower()).encode()
        ).hexdigest()

    def grams(t):
        toks = re.split(r"\s+", t.strip().lower())
        return {
            " ".join(toks[i:i + 3]) for i in range(max(len(toks) - 3, 0) + 1)
        } if len(toks) else set()

    cfps = {norm_fp(t) for _, t in corpus_rows}
    cgrams = [grams(t) for _, t in corpus_rows]
    expect = []
    for j, t in batch_rows:
        if norm_fp(t) in cfps:
            continue
        g = grams(t)
        if any(
            len(g & cg) / len(g | cg) >= 0.5
            for cg in cgrams if g | cg
        ):
            continue
        expect.append(j)

    corpus = Tibble(
        spark.createDataFrame(corpus_rows, "doc_id long, text string")
    )
    batch = Tibble(
        spark.createDataFrame(batch_rows, "doc_id long, text string")
    )
    path = str(tmp_path / "didx")
    # 32 bands x 2 rows: candidate recall ~1 at j >= 0.5 on this scale
    dedup_index_build(
        corpus, f.text, f.doc_id, path,
        num_perm=64, bands=32, store_grams=True,
    )
    got = sorted(
        dedup_against_index(batch, path, threshold=0.5, verify="exact")
        .collect()["doc_id"].tolist()
    )
    assert got == sorted(expect)


def _parquet_files(root):
    import pathlib

    return [
        p for p in pathlib.Path(root).rglob("*.parquet") if p.is_file()
    ]


def test_compact_preserves_matches_and_reduces_files(corpus, tmp_path, spark):
    """N disjoint appends + compact: match results byte-identical,
    strictly fewer store files, nothing dropped (no over-cap bucket),
    and byte-duplicate appended rows are folded."""
    from datar_polars_spark.scale import dedup_index_compact, dedup_index_stats

    path = str(tmp_path / "didx")
    dedup_index_build(corpus, f.text, f.doc_id, path)
    for i, txt in enumerate([OTHER, "fresh doc about rivers and dams",
                             "a third unique doc on glaciers"]):
        dedup_index_append(
            tibble(spark, doc_id=[100 + i], text=[txt]), path
        )
    # the same (id, text) appended twice: byte-duplicate store rows
    dedup_index_append(tibble(spark, doc_id=[100], text=[OTHER]), path)
    probe = tibble(
        spark,
        doc_id=[10, 11, 12],
        text=[BASE, NEAR, OTHER],
    )
    before = sorted(
        (r.id_a, r.id_b, r.via, round(r.jaccard_est, 9))
        for r in match_against_index(probe, path, threshold=0.5).df.collect()
    )
    files_before = len(_parquet_files(path))
    out = dedup_index_compact(spark, path)
    after = sorted(
        (r.id_a, r.id_b, r.via, round(r.jaccard_est, 9))
        for r in match_against_index(probe, path, threshold=0.5).df.collect()
    )
    # SET-identical (and non-trivial): the byte-duplicate append made
    # the (12, 100) exact pair appear TWICE pre-compact; folding the
    # duplicated store row collapses it to once
    assert set(after) == set(before) and before
    dup = (12, 100, "exact", 1.0)
    assert before.count(dup) == 2 and after.count(dup) == 1
    assert len(after) == len(set(after))  # no other multiplicity
    assert len(_parquet_files(path)) < files_before
    assert out["dropped_pairs"] == 0.0
    # the duplicate (fp, id) rows folded to one
    stats = dedup_index_stats(spark, path)
    fps = spark.read.schema("fp string, id bigint").parquet(
        f"{path}/fingerprints"
    )
    assert stats["n_fingerprints"] == fps.dropDuplicates().count()


def test_compact_caps_cross_increment_bucket(tmp_path, spark):
    """Each increment honors max_bucket, but the MERGED bucket exceeds
    it: compact must drop the over-full buckets and account the drop
    under dropped_pairs_estimate('dedup_index_compact')."""
    from datar_polars_spark.scale import (
        dedup_index_compact,
        dropped_pairs_estimate,
    )

    path = str(tmp_path / "didx")
    # identical TEXT under distinct ids, one per increment: every
    # increment posts exactly one entry per band bucket (one rep per
    # distinct fp), so each of the 16 band buckets grows by 1 per
    # increment — 4 after build+3 appends, over the cap of 3, while
    # every single increment stayed under it
    dedup_index_build(
        tibble(spark, doc_id=[1], text=[BASE]), f.text, f.doc_id, path,
        num_perm=64, bands=16, max_bucket=3,
    )
    for i in range(3):
        dedup_index_append(
            tibble(spark, doc_id=[101 + i], text=[BASE]), path
        )
    out = dedup_index_compact(spark, path)
    # all 16 buckets held 4 entries -> dropped pairs 16 * C(4,2) = 96
    assert out["dropped_pairs"] == 96.0
    assert dropped_pairs_estimate("dedup_index_compact") == 96.0
    assert out["n_postings"] == 0  # over-full buckets drop entirely
    # exact matching is untouched by the posting cap
    hit = match_against_index(
        tibble(spark, doc_id=[9], text=[BASE]), path, threshold=0.5
    ).df.collect()
    assert {r.via for r in hit} == {"exact"}


def test_compact_keeps_both_sigs_for_reused_id(tmp_path, spark):
    """r13 ADVICE: an id appended twice with DIFFERENT text used to
    fold to one arbitrary signature at compact (dedupe on ['id']
    alone) while both fingerprints and postings survived — compaction
    was visible to match. Sigs now key on ['id','sig']: only
    byte-duplicate rows fold, match results identical pre/post."""
    from datar_polars_spark.scale import dedup_index_compact

    path = str(tmp_path / "didx")
    dedup_index_build(
        tibble(spark, doc_id=[1], text=[BASE]), f.text, f.doc_id, path,
        num_perm=64, bands=16,
    )
    # the SAME id under different text: the index now holds two
    # distinct signatures for id 1
    dedup_index_append(tibble(spark, doc_id=[1], text=[FAR]), path)
    probe = tibble(spark, doc_id=[10, 11], text=[NEAR, FAR])
    before = sorted(
        (r.id_a, r.id_b, r.via, round(r.jaccard_est, 9))
        for r in match_against_index(probe, path, threshold=0.5).df.collect()
    )
    # both texts' entries are live: NEAR fuzzy-matches BASE's sig and
    # FAR exact-matches FAR's fp — if compact dropped either sig the
    # fuzzy leg (or its jaccard estimate) would change
    assert {(a, b, v) for a, b, v, _ in before} == {
        (10, 1, "minhash"), (11, 1, "exact")
    }
    dedup_index_compact(spark, path)
    after = sorted(
        (r.id_a, r.id_b, r.via, round(r.jaccard_est, 9))
        for r in match_against_index(probe, path, threshold=0.5).df.collect()
    )
    assert after == before
    sigs = spark.read.schema("id bigint, sig array<bigint>").parquet(
        f"{path}/sigs"
    )
    assert sigs.count() == 2  # both signatures survived the fold


def test_build_scans_corpus_once(spark, tmp_path):
    """The r14 one-pass build: the corpus must cross into the store
    writes exactly ONCE (fingerprints/sigs/bands are separate write
    actions; before the per-class persist each store write re-scanned
    the corpus — 3 scans, 2 text-mass shuffles, measured ~3x the whole
    build cost at sf0.1). Counted with a mapInPandas accumulator in
    the input frame, same device as the fp-family lock
    (test_fp_index_fuzz.test_build_hashes_each_row_once): a one-shot
    operator node a downstream filter cannot duplicate."""
    import pyspark.sql.functions as F

    acc = spark.sparkContext.accumulator(0)
    n = 30
    src = spark.createDataFrame(
        [(i, f"document body number {i} with shared words") for i in range(n)],
        "doc_id long, text string",
    )

    def counted(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    frame = src.mapInPandas(counted, "doc_id long, text string")
    dedup_index_build(
        Tibble(frame), f.text, f.doc_id, str(tmp_path / "idx")
    )
    assert acc.value == n, acc.value  # once per row, not once per store


@pytest.mark.parametrize(
    "op,append",
    [("match", False), ("dedup", False), ("dedup", True)],
    ids=["match", "dedup", "dedup_append"],
)
def test_dedup_against_index_evaluates_batch_once(
    spark, tmp_path, corpus, op, append
):
    """The batch's lazy plan (in a curation chain: the whole
    minhash_dedup pipeline) must run ONCE per call — the partition
    probe, the exact/fuzzy legs, the survivor anti-join and the append
    all read one materialization of it. Counted with the mapInPandas
    accumulator of test_build_scans_corpus_once; the groupBy above the
    counted node puts a shuffle under the batch, so an AQE partition
    probe on the lazy plan would execute it too."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "didx")
    dedup_index_build(corpus, f.text, f.doc_id, path)
    acc = spark.sparkContext.accumulator(0)
    texts = [BASE, NEAR, FAR, OTHER] + [
        f"fresh document number {i} about rivers and valleys" for i in range(9)
    ]
    n = len(texts)
    src = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )

    def counted(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    frame = (
        src.mapInPandas(counted, "doc_id long, text string")
        .groupBy("doc_id")
        .agg(F.first("text").alias("text"))
    )
    if op == "match":
        hits = match_against_index(Tibble(frame), path, threshold=0.5)
        got = {r.id_a for r in hits.df.collect()}
        assert {100, 101, 102} <= got
    else:
        surv = dedup_against_index(
            Tibble(frame), path, threshold=0.5, append=append
        ).collect()
        assert 100 not in set(surv["doc_id"].tolist())
        assert len(surv) == n - 3
    assert acc.value == n, acc.value  # once per row, not once per leg
