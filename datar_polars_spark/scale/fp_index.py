"""Generic persistent 64-bit-fingerprint index engine.

The image index (scale/image_index.py) and the audio index
(scale/audio_index.py) are the SAME data structure over different
perceptual hash functions: a 64-bit fingerprint per item, stored as

- ``hashes/``: (id, <fp>) — one 16-byte row per indexed item.
- ``postings/`` (partitioned by ``band``): (band, bval, id, <fp>) —
  the fingerprint split into ``max_hamming + 1`` disjoint bit bands.
  By pigeonhole, any pair within the build-time Hamming budget agrees
  EXACTLY on at least one band, so candidate generation is a keyed
  equi-join with EXACT recall (no probabilistic layer — unlike
  MinHash/hyperplane LSH, the banding loses nothing within the
  budget). Bands are pinned at build time: matching with a larger
  ``max_hamming`` than the build's would silently lose the pigeonhole
  guarantee, so it is rejected.
- ``<sidecar>.json``: the parameter sidecar.

This module holds the engine once, parameterized by a tiny family
descriptor (:class:`FpFamily`): the modality-specific pieces are the
hash function (one Arrow pass producing the (id, fingerprint) frame),
the fingerprint column name, and the naming/op strings. Everything
scale-critical — the banded layout, the exact-hash pre-join, the
one-representative-per-distinct-fingerprint candidate generation, the
broadcast pinning, bucket caps with drop accounting, tombstone
masking, and the staged-rename compaction — is shared, so a fix in
one modality is a fix in all of them.

Match semantics (shared): all (batch item, indexed item) pairs with
Hamming distance <= the budget; byte-identical fingerprints via one
narrow 8-byte hash equi-join (hamming 0) and near-dups via the banded
join — candidates generate from ONE representative per distinct
fingerprint (a replica-heavy batch pays distinct-fingerprint cost)
and fan back out. NULL-content and NULL-id batch rows never match and
always survive dedup (the index family's NULL contract).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import functions as F

from ..tibble import Tibble, ensure_tibble
from .dedup import _cap_buckets, _DROPPED_PAIRS, _ensure_parallelism, _name_of
from .jsonio import read_json_file, replace_dir, write_json_file
from ..plans.cache import reliable_checkpoint
from .tombstones import (
    append_tombstones,
    delete_dir,
    mask_tombstones,
    tombstones_df,
)

__all__ = ["FpFamily", "band_cols"]

# a hashed batch row is 16 bytes (8-byte id-ish key + 8-byte
# fingerprint): 4M rows broadcast as a ~64 MB hash relation — cheap on
# any executor profile, and far past the point where a recrawl batch
# stops being "small" relative to the corpus store it matches against
_BROADCAST_BATCH_ROWS = 4_000_000


@dataclass(frozen=True)
class FpFamily:
    """One modality of the fingerprint-index family.

    ``hash_base(df, content_col, id_col, strict, probe_parallelism)``
    must return a DataFrame of (id, <fp_col>, stamp) with NULL-id and
    NULL-fingerprint rows already dropped — the one Arrow pass that
    turns raw content bytes into the 64-bit perceptual hash. The
    engine attaches the retention stamp to the input as a reserved
    ``__stamp__`` column; the hash pass carries it through untouched
    and returns it as ``stamp``."""

    name: str  # "image" / "audio" — derives op + error strings
    fp_col: str  # fingerprint column name in the stores
    count_key: str  # stats key for the hashes/ row count
    hash_base: Callable[..., Any]

    @property
    def format(self) -> str:
        return f"{self.name}-index"

    @property
    def sidecar(self) -> str:
        return f"{self.name}_index.json"

    def op(self, suffix: str) -> str:
        return f"{self.name}_index_{suffix}"

    @property
    def op_match(self) -> str:
        return f"match_against_{self.name}_index"


def band_cols(fp, n_bands: int):
    """The fingerprint's ``n_bands`` disjoint bit bands as (band, bval)
    structs — pure JVM shifts/masks, shared with the *_near_dup_pairs
    batch operators and the streaming consumers.

    A full-width band (n_bands=1, i.e. max_hamming=0) keeps the raw
    hash as its value: the 64-bit mask (1<<64)-1 overflows a signed
    long and py4j's F.lit would raise NumberFormatException, and no
    mask is needed when the band IS the whole fingerprint."""
    out = []
    for i in range(n_bands):
        lo = (i * 64) // n_bands
        hi = ((i + 1) * 64) // n_bands
        width = hi - lo
        shifted = F.shiftrightunsigned(fp, lo)
        bval = (
            shifted if width >= 64
            else shifted.bitwiseAND(F.lit((1 << width) - 1))
        )
        out.append(
            F.struct(F.lit(i).alias("band"), bval.alias("bval"))
        )
    return out


def _stamp_expr(df, stamp, op: str):
    """Resolve the retention stamp for an incoming increment: an int
    stamps the whole increment, a str names a per-row long column in
    the batch (e.g. a crawl date) — any caller-defined monotonic unit
    works, the engine only ever compares stamps."""
    if isinstance(stamp, str):
        if stamp not in df.columns:
            raise ValueError(
                f"{op}: stamp column {stamp!r} not in the batch"
            )
        return F.col(stamp).cast("bigint")
    return F.lit(int(stamp)).cast("bigint")


def _stamped_base(base, stamp, op: str):
    """Ensure the hashed base carries its retention ``stamp`` column.
    The family hash passes return it (the engine feeds them a reserved
    ``__stamp__`` input column); a hash_base that does NOT carry it —
    e.g. a minimal external family — still supports whole-increment
    int stamps, which attach fine after the hash. Only per-row column
    stamps genuinely need the passthrough."""
    if "stamp" in base.columns:
        return base
    if isinstance(stamp, str):
        raise ValueError(
            f"{op}: per-row stamp column {stamp!r} requires a "
            f"hash_base that carries the reserved __stamp__ input "
            f"column through to a 'stamp' output column"
        )
    return base.withColumn("stamp", F.lit(int(stamp)).cast("bigint"))


def _index_frames(fam: FpFamily, base, meta: dict, op: str):
    """(hashes, postings) store frames — shared by build and append.

    Postings carry the FULL fingerprint next to each band value (v2
    layout, +8 bytes/row over the text/semantic siblings' narrow
    postings): the fingerprint is only 8 bytes — unlike a MinHash
    signature or an embedding — so candidate VERIFICATION
    (bit_count(a ^ b)) happens inline on the posting join's output and
    the fuzzy leg never needs a second corpus-scale join back to
    ``hashes/``. One store scan per match instead of two.

    Both stores also carry an 8-byte retention ``stamp`` (r14): match
    reads prune expired rows with a pushed-down ``stamp >= cutoff``
    scan predicate (appends are stamp-ordered files, so whole row
    groups skip via footer min/max), and compaction drops them
    physically — no id-list join anywhere in the retention path."""
    fp = fam.fp_col
    postings = _cap_buckets(
        base.select(
            "id", fp, "stamp",
            F.explode(F.array(*band_cols(F.col(fp),
                                         meta["bands"]))).alias("b"),
        ).select(F.col("b.band").alias("band"),
                 F.col("b.bval").alias("bval"), "id", fp, "stamp"),
        ["band", "bval"], meta["max_bucket"], op=op,
    )
    return base, postings


def _write_frames(path: str, hashes, postings, mode: str) -> None:
    # range-cluster postings before the partitioned write — same
    # small-files discipline as the text/semantic indexes
    postings = postings.repartitionByRange(
        F.col("band"), F.col("bval")
    ).sortWithinPartitions("band", "bval")
    hashes.write.mode(mode).parquet(f"{path}/hashes")
    postings.write.mode(mode).partitionBy("band").parquet(f"{path}/postings")


def fp_index_build(
    fam: FpFamily,
    corpus: Any,
    content: Any,
    id_col: Any,
    path: str,
    *,
    max_hamming: int,
    max_bucket: int,
    strict: bool,
    mode: str,
    stamp: int | str = 0,
) -> None:
    op = fam.op("build")
    if max_hamming < 0:
        raise ValueError(f"{op}: max_hamming must be >= 0, got {max_hamming}")
    _DROPPED_PAIRS[op] = []
    td = ensure_tibble(corpus)
    cname, idn = _name_of(content), _name_of(id_col)
    meta = {
        "format": fam.format,
        "version": 2,  # v2: postings carry the fingerprint inline
        "stamps": True,  # r14: stores carry a retention stamp column
        "expire_before": 0,
        "max_hamming": max_hamming,
        "bands": max_hamming + 1,
        "max_bucket": max_bucket,
        "content_col": cname,
        "id_col": idn,
        "id_type": td.df.schema[idn].dataType.simpleString(),
    }
    # parallelize the INPUT of the hash pass, not its output: the
    # repartition must sit BELOW the Arrow decode+hash node or a
    # single-partition corpus (one parquet file) runs the whole decode
    # in one task and only the narrow (id, fp) result gets spread —
    # observed: the bench's one-file clips frame decoded serially
    # (guide §2.5 input skew / §4 parallelism for the Python pass). At
    # corpus scale the scan already carries >= cores partitions and
    # this is a no-op either way.
    base = _stamped_base(
        fam.hash_base(
            _ensure_parallelism(
                td.df.select(*td.columns).withColumn(
                    "__stamp__", _stamp_expr(td.df, stamp, op)
                )
            ),
            cname, idn, strict,
        ),
        stamp, op,
    )
    _write_stores(fam, td.df.sparkSession, base, meta, op, path, mode)
    write_json_file(td.df.sparkSession, f"{path}/{fam.sidecar}", meta)


def _write_stores(fam, spark, base, meta, op, path, mode) -> None:
    """Persist the hashed base across the TWO store writes (hashes +
    postings are separate actions, and the Arrow decode+hash pass sits
    behind no shuffle, so without the persist it runs once per write —
    observed 2x the whole build cost on the decode-heavy video
    family), then release it deterministically. Same hash-once
    discipline as the match path (r13's 24fd3ce)."""
    from ..plans.cache import (
        register_internal_cache,
        unregister_internal_cache,
    )

    base = register_internal_cache(base.persist())
    try:
        hashes, postings = _index_frames(fam, base, meta, op)
        _write_frames(path, hashes, postings, mode)
    finally:
        unregister_internal_cache(base)


def load_meta(fam: FpFamily, spark, path: str) -> dict:
    meta = read_json_file(spark, f"{path}/{fam.sidecar}")
    if not (isinstance(meta, dict) and meta.get("format") == fam.format):
        raise ValueError(
            f"{path}/{fam.sidecar} is not a {fam.op('build')} sidecar"
        )
    if meta.get("version") != 2:
        # an explicit-schema read of v1 postings (no fingerprint
        # column) would yield NULL fingerprints and silently wrong
        # hammings — refuse loudly instead
        raise ValueError(
            f"{fam.name} index at {path} is layout version "
            f"{meta.get('version')}; this build reads version 2 "
            f"(postings carry the fingerprint inline) — rebuild with "
            f"{fam.op('build')}"
        )
    return meta


def fp_index_append(
    fam: FpFamily,
    batch: Any,
    path: str,
    content: Any,
    id_col: Any,
    *,
    strict: bool,
    stamp: int | str = 0,
) -> None:
    # NOTE: the dead-on-arrival guard below applies to whole-increment
    # int stamps; per-row stamp columns are the caller's responsibility
    # — rows stamped below an active watermark are admitted but never
    # match (and fold away at the next compact).
    op = fam.op("append")
    _DROPPED_PAIRS[op] = []
    td = ensure_tibble(batch)
    meta = load_meta(fam, td.df.sparkSession, path)
    cname = _name_of(content) if content is not None else meta["content_col"]
    idn = _name_of(id_col) if id_col is not None else meta["id_col"]
    got_t = td.df.schema[idn].dataType.simpleString()
    if got_t != meta["id_type"]:
        raise ValueError(
            f"{op}: id column {idn!r} is {got_t}, but the index at "
            f"{path} was built with id_type={meta['id_type']!r}; cast "
            f"the batch id first"
        )
    if (
        isinstance(stamp, int)
        and meta.get("expire_before", 0) > 0
        and stamp < meta["expire_before"]
    ):
        raise ValueError(
            f"{op}: stamp={stamp} is below the index's retention "
            f"watermark expire_before={meta['expire_before']} — the "
            f"rows would be dead on arrival; stamp the increment at "
            f"or past the watermark"
        )
    # same input-side parallelism as the build: a one-file batch must
    # not decode serially (the repartition is a no-op once the scan
    # carries >= cores partitions)
    base = _stamped_base(
        fam.hash_base(
            _ensure_parallelism(
                td.df.select(*td.columns).withColumn(
                    "__stamp__", _stamp_expr(td.df, stamp, op)
                )
            ),
            cname, idn, strict,
        ),
        stamp, op,
    )
    _write_stores(
        fam, td.df.sparkSession, base, meta, op, path, "append"
    )


def _hashes_schema(fam: FpFamily, idt: str, stamped: bool = False) -> str:
    s = f"id {idt}, {fam.fp_col} bigint"
    return s + ", stamp bigint" if stamped else s


def _postings_schema(fam: FpFamily, idt: str, stamped: bool = False) -> str:
    s = f"bval bigint, id {idt}, {fam.fp_col} bigint, band int"
    return s + ", stamp bigint" if stamped else s


def retention_cutoff(
    meta: dict, min_stamp, op: str, path: str, build_op: str
) -> int:
    """Effective retention cutoff for a read: the caller's
    ``min_stamp`` or the sidecar's ``expire_before`` watermark,
    whichever is stricter. Requires a stamped index to be non-zero —
    a pre-stamp index has no stamp column to compare (explicit-schema
    reads would surface NULLs and silently expire everything). Shared
    with the text/semantic indexes — same retention contract across
    the whole index family."""
    eff = max(int(min_stamp or 0), int(meta.get("expire_before") or 0))
    if eff > 0 and not meta.get("stamps"):
        raise ValueError(
            f"{op}: the index at {path} predates retention stamps "
            f"(no 'stamps' flag in the sidecar) — rebuild with "
            f"{build_op} to use min_stamp/expire"
        )
    return eff


def _retention_cutoff(
    fam: FpFamily, meta: dict, min_stamp, op: str, path: str
) -> int:
    return retention_cutoff(meta, min_stamp, op, path, fam.op("build"))


def _prune_expired(df, eff: int):
    """Apply the retention cutoff to a store scan — a pushed-down
    parquet predicate (appends are stamp-ordered file sets, so whole
    row groups skip on footer min/max), then drop the stamp so
    downstream joins keep their narrow shape."""
    if eff <= 0:
        return df
    return df.filter(F.col("stamp") >= eff).drop("stamp")


def fp_index_stats(
    fam: FpFamily, spark, path: str, live: bool = False
) -> dict:
    """Sidecar parameters plus footer-only store row counts: the item
    and posting counts are PHYSICAL (footer metadata, no data pages);
    ``n_tombstones`` counts ids masked since the last compact — live
    rows are the difference.

    ``live=True`` additionally reports ``n_live`` — the MATCHABLE item
    count with the retention watermark and tombstones applied (what a
    match actually sees). This one reads data pages (the stamp column
    and the tombstone anti-join), so it costs a narrow store scan;
    the default stays footer-only."""
    meta = load_meta(fam, spark, path)
    idt = meta["id_type"]
    out = dict(meta)
    out[fam.count_key] = (
        spark.read.schema(_hashes_schema(fam, idt))
        .parquet(f"{path}/hashes").count()
    )
    out["n_postings"] = (
        spark.read.schema(_postings_schema(fam, idt))
        .parquet(f"{path}/postings").count()
    )
    tombs = tombstones_df(spark, path, idt)
    out["n_tombstones"] = 0 if tombs is None else tombs.count()
    if live:
        eff = (
            int(meta.get("expire_before") or 0)
            if meta.get("stamps") else 0
        )
        out["n_live"] = mask_tombstones(
            _prune_expired(
                spark.read
                .schema(_hashes_schema(fam, idt, stamped=eff > 0))
                .parquet(f"{path}/hashes"),
                eff,
            ),
            tombs,
        ).count()
    return out


def fp_index_delete(fam: FpFamily, spark, path: str, ids: Any) -> dict:
    """Tombstone ``ids`` out of the index: every match/dedup/stream
    consumer masks them immediately; compact folds them physically and
    clears the sidecar. Returns the post-delete stats. See
    scale/tombstones.py for the mask-until-compact contract
    (re-appending a tombstoned id requires a compact first)."""
    meta = load_meta(fam, spark, path)
    append_tombstones(spark, path, ids, meta["id_type"])
    return fp_index_stats(fam, spark, path)


def fp_index_expire(fam: FpFamily, spark, path: str, before: int) -> dict:
    """Age-based retention — the time/TTL complement of the id-list
    tombstones: raise the index's ``expire_before`` watermark so every
    subsequent match/dedup/stream read prunes rows stamped before
    ``before`` via a pushed-down scan predicate (enforced immediately,
    no rewrite), and the next compact drops them physically. The
    watermark is monotonic (it never lowers — re-admitting expired
    rows would silently resurrect matches) and survives compaction, so
    a late append stamped below it is rejected loudly rather than
    being dead on arrival. No id list or join anywhere: expiry cost is
    one sidecar write. Returns the post-expire stats."""
    op = fam.op("expire")
    meta = load_meta(fam, spark, path)
    if not meta.get("stamps"):
        raise ValueError(
            f"{op}: the index at {path} predates retention stamps — "
            f"rebuild with {fam.op('build')} to use expiry"
        )
    if before < 0:
        raise ValueError(f"{op}: before must be >= 0, got {before}")
    meta["expire_before"] = max(int(meta.get("expire_before") or 0),
                                int(before))
    write_json_file(spark, f"{path}/{fam.sidecar}", meta)
    return fp_index_stats(fam, spark, path)


def fp_match_with_base(
    fam: FpFamily,
    batch: Any,
    path: str,
    content: Any,
    id_col: Any,
    *,
    max_hamming: int | None,
    max_bucket: int,
    strict: bool,
    min_stamp: int | None = None,
) -> tuple[Tibble, Any]:
    """The match operator plus the persisted hashed-batch frame, so
    callers that MATERIALIZE the result (dedup's append path) can
    release the persist deterministically via unregister_internal_cache
    instead of waiting on FIFO eviction."""
    op = fam.op_match
    _DROPPED_PAIRS[op] = []
    td = ensure_tibble(batch)
    spark = td.df.sparkSession
    meta = load_meta(fam, spark, path)
    eff = _retention_cutoff(fam, meta, min_stamp, op, path)
    budget = meta["max_hamming"] if max_hamming is None else int(max_hamming)
    if budget > meta["max_hamming"]:
        raise ValueError(
            f"{op}: max_hamming={budget} exceeds the build-time budget "
            f"{meta['max_hamming']} — the banded layout only guarantees "
            f"recall up to the build's; rebuild with a larger budget"
        )
    if budget < 0:
        raise ValueError(f"{op}: max_hamming must be >= 0")
    cname = _name_of(content) if content is not None else meta["content_col"]
    idn = _name_of(id_col) if id_col is not None else meta["id_col"]
    idt = meta["id_type"]
    from ..plans.cache import register_internal_cache

    # the Arrow decode+hash pass is the expensive part of a match, and
    # the hashed batch feeds THREE consumers (exact leg, distinct-
    # fingerprint reps, fuzzy fan-out) — persist it so the batch is
    # hashed once, not once per consumer (plan-audited: 3 ArrowEval
    # passes without this). The count() both materializes the persist
    # and gives the EXACT batch cardinality for the broadcast decision
    # below — runtime truth, not an estimate.
    fp = fam.fp_col
    # input-side parallelism (below the Arrow node — a one-file batch
    # must not decode serially; no-op at corpus partition counts)
    base = register_internal_cache(
        fam.hash_base(
            _ensure_parallelism(
                td.df.select(*td.columns).withColumn(
                    "__stamp__", F.lit(0).cast("bigint")
                )
            ),
            cname, idn, strict,
        )
        .select(F.col("id").alias("id_a"), F.col(fp).alias("fp_a"))
        .persist()
    )
    n_batch = base.count()
    # a hashed batch row is 16 bytes; below the bound, PIN the batch
    # side broadcast so the corpus-scale stores NEVER shuffle for a
    # small batch (the r5 finding: AQE does not reliably demote a
    # planned sort-merge join to broadcast at runtime)
    small = n_batch <= _BROADCAST_BATCH_ROWS

    def _pin(df):
        return F.broadcast(df) if small else df

    tombs = tombstones_df(spark, path, idt)
    store = mask_tombstones(
        _prune_expired(
            spark.read.schema(_hashes_schema(fam, idt, stamped=eff > 0))
            .parquet(f"{path}/hashes"),
            eff,
        ),
        tombs,
    ).select(F.col("id").alias("id_b"), F.col(fp).alias("fp_b"))
    exact = (
        _pin(base).join(store, base["fp_a"] == store["fp_b"])
        .select("id_a", "id_b", F.lit(0).alias("hamming"))
    )
    if budget == 0:
        return Tibble(exact), base
    # distinct-fingerprint candidate generation (the fingerprint is 8
    # bytes, so banding every distinct one is cheap even when replicas
    # dominate); identical pairs are the exact leg's — excluded here
    reps = base.select(F.col("fp_a").alias("fp")).dropDuplicates()
    banded = _cap_buckets(
        reps.select(
            "fp", F.explode(F.array(*band_cols(F.col("fp"),
                                               meta["bands"]))).alias("b")
        ).select("fp", F.col("b.band").alias("band"),
                 F.col("b.bval").alias("bval")),
        ["band", "bval"], max_bucket, op=op,
    )
    # v2 postings carry the fingerprint inline, so the Hamming verify
    # runs ON the posting join's output — the fuzzy leg touches ONE
    # corpus-scale store (postings), not two (no join-back to hashes/)
    postings = mask_tombstones(
        _prune_expired(
            spark.read.schema(_postings_schema(fam, idt, stamped=eff > 0))
            .parquet(f"{path}/postings"),
            eff,
        ),
        tombs,
    ).select("band", "bval", F.col("id").alias("id_b"),
             F.col(fp).alias("fp_b"))
    fuzzy = (
        _pin(banded).join(postings, on=["band", "bval"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("fp").bitwiseXOR(F.col("fp_b"))).cast("int"),
        )
        .filter((F.col("hamming") > 0) & (F.col("hamming") <= budget))
        # band-collision dedupe keys include the STORED hash: an id
        # appended under two different fingerprints legitimately
        # matches once per fingerprint (hamming is a pure function of
        # (fp, fp_b), so this is exactly one row per true pair)
        .select("fp", "id_b", "fp_b", "hamming")
        .dropDuplicates(["fp", "id_b", "fp_b"])
        .join(_pin(base), base["fp_a"] == F.col("fp"))
        .select("id_a", "id_b", "hamming")
    )
    return Tibble(exact.unionByName(fuzzy)), base


def fp_dedup_against_index(
    fam: FpFamily,
    batch: Any,
    path: str,
    content: Any,
    id_col: Any,
    *,
    max_hamming: int | None,
    max_bucket: int,
    strict: bool,
    append: bool,
    min_stamp: int | None = None,
    stamp: int | str = 0,
) -> Tibble:
    """Drop every ``batch`` row whose content matches an indexed item
    within the Hamming budget; return survivors with their original
    columns. ``append=True`` admits the survivors into the index
    (materialized first — the family's read-after-append contract),
    stamped with ``stamp``."""
    td = ensure_tibble(batch)
    meta = load_meta(fam, td.df.sparkSession, path)
    # the batch's plan runs ONCE: the match's hash pass and the
    # survivor anti-join below both read this checkpoint. The match's
    # own hashed-batch persist stays — the Arrow decode runs above the
    # checkpoint, and that persist keeps it to one pass.
    mat = td.df.select(*td.columns).transform(reliable_checkpoint, eager=True)
    hits, hashed_batch = fp_match_with_base(
        fam, Tibble(mat), path, content, id_col,
        max_hamming=max_hamming, max_bucket=max_bucket, strict=strict,
        min_stamp=min_stamp,
    )
    idn = _name_of(id_col) if id_col is not None else meta["id_col"]
    surv = mat.join(
        hits.df.select(F.col("id_a").alias(idn)).dropDuplicates(),
        on=idn, how="left_anti",
    )
    if append:
        surv = surv.transform(reliable_checkpoint, eager=True)
        # the eager checkpoint just consumed the match plan in full —
        # the persisted hashed batch has no remaining consumer, so
        # release it now instead of waiting on FIFO eviction
        from ..plans.cache import unregister_internal_cache

        unregister_internal_cache(hashed_batch)
    out = Tibble(surv, groups=td.group_vars, levels=td.levels)
    if append:
        cname = (
            _name_of(content) if content is not None
            else meta["content_col"]
        )
        fp_index_append(fam, out, path, cname, idn, strict=strict,
                        stamp=stamp)
    return out


def fp_index_compact(fam: FpFamily, spark, path: str) -> dict:
    """Rewrite accumulated per-append file sets into one compact
    range-clustered layout, folding byte-duplicate rows, tombstoned
    ids, and re-applying the bucket cap ACROSS increments — same
    lifecycle, swap discipline, and drop accounting as
    dedup_index_compact/semantic_index_compact."""
    from .dedup import dropped_pairs_estimate

    op = fam.op("compact")
    meta = load_meta(fam, spark, path)
    _DROPPED_PAIRS[op] = []
    idt = meta["id_type"]
    fp = fam.fp_col
    stamped = bool(meta.get("stamps"))
    eff = int(meta.get("expire_before") or 0) if stamped else 0
    tombs = tombstones_df(spark, path, idt)
    hashes = mask_tombstones(
        spark.read.schema(_hashes_schema(fam, idt, stamped=stamped))
        .parquet(f"{path}/hashes"),
        tombs,
    )
    postings = mask_tombstones(
        spark.read.schema(_postings_schema(fam, idt, stamped=stamped))
        .parquet(f"{path}/postings"),
        tombs,
    )
    if stamped:
        # expired rows drop physically; byte-duplicate rows fold
        # latest-stamp-wins (a re-append REFRESHES retention — keeping
        # an arbitrary stamp could re-expire a refreshed row)
        hashes = (
            hashes.filter(F.col("stamp") >= eff) if eff > 0 else hashes
        ).groupBy("id", fp).agg(F.max("stamp").alias("stamp"))
        postings = (
            postings.filter(F.col("stamp") >= eff) if eff > 0 else postings
        ).groupBy("band", "bval", "id", fp).agg(
            F.max("stamp").alias("stamp")
        )
    else:
        hashes = hashes.dropDuplicates(["id", fp])
        postings = postings.select("band", "bval", "id", fp).dropDuplicates(
            ["band", "bval", "id", fp]
        )
    postings = _cap_buckets(
        postings, ["band", "bval"], meta["max_bucket"], op=op,
    ).repartitionByRange(
        F.col("band"), F.col("bval")
    ).sortWithinPartitions("band", "bval")
    hashes.write.mode("overwrite").parquet(f"{path}/hashes__compact")
    postings.write.mode("overwrite").partitionBy("band").parquet(
        f"{path}/postings__compact"
    )
    dropped = dropped_pairs_estimate(op)
    _DROPPED_PAIRS[op] = [
        spark.createDataFrame([(float(dropped),)], "dropped double")
    ]
    replace_dir(spark, f"{path}/hashes__compact", f"{path}/hashes")
    replace_dir(spark, f"{path}/postings__compact", f"{path}/postings")
    # the rewritten stores no longer hold the dead ids: clear the
    # sidecar (LAST — a crash before this line leaves tombstones
    # harmlessly masking already-absent ids)
    if tombs is not None:
        delete_dir(spark, f"{path}/tombstones")
    out = fp_index_stats(fam, spark, path)
    out["dropped_pairs"] = dropped
    return out
