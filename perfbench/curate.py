"""Incremental curation workload over the 5,000-document corpus.

Set-up seeds a persistent dedup index from one slice of the corpus with
``dedup_index_build``. Each operation then takes one batch of crawled
pages (a parquet file) through

    html_to_text -> normalize_text -> lang_id_predict
    -> gopher_quality_filter -> [checkpoint] -> minhash_dedup
    -> dedup_against_index(append=True) -> write_training_shards

with the stages composed lazily, as a user writes them. The one
checkpoint after the per-document stages is what keeps a batch within
the run budget: without it every job of the two dedup stages replans
and recomputes the whole extraction chain (about 75 s for any batch
size on a 4-core machine). The index match still recomputes the lazy
minhash_dedup plan, so that cost stays visible in
``scale.index_match``. Set-up is the index build plus one smaller
warm-up batch through the whole measured chain, run on a copy of the
index and then discarded: without it the first measured batch ran
about 25% slower than later ones and spread more from run to run.

Answer check, outside the timers: before each measured batch the same
stages run with every stage materialized before the next, against the
same index (without appending); the kept-id sets must agree. Also:
kept ids are a subset of the batch; no kept document is a duplicate of
a document admitted earlier or of another kept document, by the
generator's ground truth (``dup_sources.json``, which the program never
sees); the index grows by exactly the kept documents; and the shards
written hold exactly the kept ids. The seed slice holds the originals
of the first batch's duplicates, so that check always has cases.

In a traced run each batch also runs untraced, the same way as the
warm-up, in seeded order; the two times give ``trace.overhead_frac``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

SEED_DOCS = 500
BATCH_DOCS = 250
WARM_DOCS = 100
N_SHARDS = 2


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _model(ctx, out):
    """The seed language-ID model, trained once per checkout and then
    loaded; training time is kept out of ``setup_s``."""
    from datar_polars_spark.scale import (
        lang_id_read, lang_id_train_seed, lang_id_write)

    path = os.path.join(ctx.cache_dir, "langid.json")
    if not os.path.exists(path):
        t0 = time.perf_counter()
        lang_id_write(ctx.spark, lang_id_train_seed(ctx.spark), path + ".tmp")
        os.replace(path + ".tmp", path)
        out.exclude_from_setup(time.perf_counter() - t0)
    return lang_id_read(ctx.spark, path)


def run(ctx, out) -> None:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from datar_polars_spark import f, read_parquet, select, write_training_shards
    from datar_polars_spark.plans.cache import internal_cache_count
    from datar_polars_spark.scale import (
        dedup_against_index, dedup_index_build, dedup_index_stats,
        gopher_quality_filter, html_to_text, lang_id_predict, minhash_dedup,
        normalize_text)
    from datar_polars_spark.tibble import Tibble

    spark, tr = ctx.spark, ctx.tracer
    work = ctx.run_dir
    index = os.path.join(work, "index")
    pages = pq.read_table(os.path.join(ctx.data_dir, "pages.parquet"))
    with open(os.path.join(ctx.data_dir, "dup_sources.json")) as fh:
        source = {int(k): v for k, v in json.load(fh).items()}

    def family(d):  # documents of one family are near or exact duplicates
        return source.get(d, d)

    rng = random.Random(ctx.seed)
    ids = pages.column("doc_id").to_pylist()
    rng.shuffle(ids)
    first = ids[:BATCH_DOCS]
    lifted = {source[d] for d in first if d in source} - set(first)
    others = [d for d in ids[BATCH_DOCS:] if d not in lifted]
    seed_ids = sorted(lifted) + others[:SEED_DOCS - len(lifted)]
    others = others[SEED_DOCS - len(lifted):]
    warm_ids = others[:WARM_DOCS]
    rest = first + others[WARM_DOCS:]
    batches = [rest[i:i + BATCH_DOCS] for i in range(0, len(rest), BATCH_DOCS)]

    def slice_file(name, members):
        path = os.path.join(work, "batches", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keep = pc.is_in(pages["doc_id"], pa.array(members, pa.int64()))
        pq.write_table(pages.filter(keep), path)
        return path

    read = tr.wrap("sources.read", read_parquet)
    shards = tr.wrap("sources.write", write_training_shards)

    def extract(t):
        return normalize_text(html_to_text(t)) >> select(f.doc_id, f.text)

    def checkpoint(t):
        return Tibble(t.df.localCheckpoint(eager=True))

    model = _model(ctx, out)

    # set-up: seed the persistent index from the first slice
    dedup_index_build(extract(read_parquet(spark, slice_file("seed", seed_ids))),
                      f.text, f.doc_id, index)
    admitted = {family(d) for d in seed_ids}

    def measured(path, shard_dir, index):
        with tr.span("op"):
            t = read(spark, path)
            with tr.span("scale.extract"):
                t = extract(t)
            with tr.span("scale.langid"):
                t = lang_id_predict(t, model)
            with tr.span("scale.quality"):
                t = gopher_quality_filter(t)
            with tr.span("exec.action"):
                t = checkpoint(t)
            with tr.span("scale.minhash_dedup"):
                t = minhash_dedup(t, f.text, f.doc_id)
            with tr.span("scale.index_match"):
                t = dedup_against_index(t, index, append=True)
            shards(t, shard_dir, n_shards=N_SHARDS)
        return t

    def staged(path):
        """The reference: every stage materialized before the next."""
        t = checkpoint(read_parquet(spark, path))
        t = checkpoint(html_to_text(t))
        t = checkpoint(normalize_text(t) >> select(f.doc_id, f.text))
        t = checkpoint(lang_id_predict(t, model))
        t = checkpoint(gopher_quality_filter(t))
        t = checkpoint(minhash_dedup(t, f.text, f.doc_id))
        t = dedup_against_index(t, index)
        return {r[0] for r in t.df.select("doc_id").collect()}

    def n_indexed():
        return dedup_index_stats(spark, index)["n_fingerprints"]

    def copy_index():
        twin = os.path.join(work, "twin")
        shutil.rmtree(twin, ignore_errors=True)
        shutil.copytree(index, os.path.join(twin, "index"))
        return twin

    def untraced(path, twin, op_id):
        """The measured chain untraced against the index copy in
        ``twin``, its output discarded; returns its time."""
        with tr.paused():
            t0 = time.perf_counter()
            try:
                measured(path, os.path.join(twin, "shards"),
                         os.path.join(twin, "index"))
            except Exception as e:  # a measured batch counts it
                out.note(f"untraced {op_id}: {type(e).__name__}")
            return time.perf_counter() - t0

    untraced(slice_file("warm", warm_ids), copy_index(), "warm-up")
    out.setup_done()

    if tr.enabled:
        tr.probe = internal_cache_count
    busy = 0.0
    kept_docs = batch_docs = shard_bytes = dup_cases = 0
    k = 0
    while (k == 0 or busy < ctx.seconds) and batches:
        members = batches.pop(0)
        op_id = f"b{k}"
        path = slice_file(op_id, members)
        shard_dir = os.path.join(work, "shards", op_id)
        try:  # the reference and the index size before the batch
            expected, before, err = staged(path), n_indexed(), None
        except Exception as e:  # a failing reference fails the op
            err = f"reference {type(e).__name__}: {str(e)[:200]}"
        if tr.enabled:  # the index as it is before the batch
            twin = copy_index()
            twin_first = rng.random() < 0.5
            if twin_first:
                twin_s = untraced(path, twin, op_id)
        tr.op = op_id
        first_span = len(tr.spans)
        ctx.rss.reset()
        t0 = time.perf_counter()
        try:
            t = measured(path, shard_dir, index)
        except Exception as e:  # counted, never fatal
            err = f"{type(e).__name__}: {str(e)[:200]}"
        dt = time.perf_counter() - t0
        ctx.rss.sample()
        busy += dt
        tr.op = None
        tr.resolve_jobs(first_span)
        if tr.enabled:
            out.pair(twin_s if twin_first else untraced(path, twin, op_id))
        if err is None:
            try:
                kept = {r[0] for r in t.df.select("doc_id").collect()}
                written = {r[0] for r in spark.read.parquet(shard_dir)
                           .select(F.col("doc_id")).collect()}
                grown = n_indexed() - before
            except Exception as e:
                err = f"check {type(e).__name__}: {str(e)[:200]}"
        dup_cases += sum(family(d) in admitted for d in members)
        if err is None:
            kept_families = {family(d) for d in kept}
            if kept != expected:
                err = f"kept {len(kept)} ids, staged reference kept {len(expected)}"
            elif not kept <= set(members):
                err = "kept ids outside the batch"
            elif kept_families & admitted:
                err = (f"kept {len(kept_families & admitted)} duplicates of "
                       "documents admitted earlier")
            elif len(kept_families) != len(kept):
                err = "kept two duplicates of one document"
            elif grown != len(kept):
                err = f"index grew by {grown}, kept {len(kept)}"
            elif written != kept:
                err = f"shards hold {len(written)} ids, kept {len(kept)}"
            admitted |= kept_families
            kept_docs += len(kept)
            shard_bytes += _du(shard_dir)
        batch_docs += len(members)
        out.record(op_id, dt, err)
        k += 1

    out.note(f"batches={k} batch_docs={BATCH_DOCS} kept_docs={kept_docs} "
             f"duplicates_of_admitted={dup_cases}")
    if tr.enabled:
        stats = dedup_index_stats(spark, index)
        ops = set(out.op_ids)
        n = len(ops)
        agg = tr.by_name(ops)
        for stage, span in (("extract", "scale.extract"), ("langid", "scale.langid"),
                            ("quality", "scale.quality"),
                            ("minhash_dedup", "scale.minhash_dedup"),
                            ("index_match", "scale.index_match"),
                            ("shards_write", "sources.write")):
            out.layer[f"scale.{stage}.s"] = agg[span]["incl_s"] / n
            out.layer[f"scale.{stage}.jobs"] = agg[span]["jobs"] / n
        act = agg["exec.action"]
        out.layer.update({
            "sources.read_s": agg["sources.read"]["self_s"] / n,
            "sources.read_jobs": agg["sources.read"]["jobs"] / n,
            "sources.write_s": agg["sources.write"]["self_s"] / n,
            "sources.bytes_written_per_doc": shard_bytes / max(1, kept_docs),
            "exec.action_s": act["self_s"] / n,
            "exec.jobs": act["jobs"] / n,
            "exec.stages": act["stages"] / n,
            "exec.tasks": act["tasks"] / n,
            "exec.failed_tasks": act["failed_tasks"] / n,
            "scale.kept_frac": kept_docs / max(1, batch_docs),
            "index.rows": stats["n_fingerprints"],
            "index.bytes_per_doc": _du(index) / max(1, stats["n_fingerprints"]),
            "cache.internal_max": tr.probe_max,
        })
    for d in ("shards", "twin"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
