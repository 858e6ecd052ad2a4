"""Verb-chain workloads: the gate queries of ``__spark_entry__``.

One operation is one query as an analyst issues it: call the query
function (the DSL compiles the verb chain into a lazy plan; some verbs
launch eager Spark jobs while doing so), then bring the result to the
driver with ``Tibble.collect()``. Each result is compared, outside the
timers, with the query's DuckDB ``oracle_sql()`` twin on the same
parquet files, normalized with the correctness gate's own
``tools/check_correctness.frame_signature``.

Traced layers (see README.md): ``sources.read`` wraps
``read_parquet``; ``dsl.build`` is the query call; ``tibble.collect``
is ``Tibble.collect``; ``exec.action`` is the ``DataFrame.collect``
that ``Tibble.collect`` issues, i.e. the engine running the plan. In a
traced run each query also runs once untraced, in seeded order; the two
times give ``trace.overhead_frac``.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

# the shuffle/join/window-heavy headline queries (execution dominates)
HEADLINE = [
    "q01_pricing_summary", "q02_select_mutate",
    "q06_join_revenue_per_nation", "q07_left_join_zero_counts",
    "q10_topk_per_group", "q12_lag_cumsum", "q19_quantiles",
    "q20_n_distinct", "q22_group_deviation", "q23_events_daily",
]
# gate queries whose subject is a scale/ curation operator rather than
# the verb surface; every other gate query is in the broad verb mix
SCALE_QUERIES = {
    "q14_decontaminate", "q33_dedup", "q35_text_stats", "q37_ann_topk",
    "q38_minhash_dedup", "q45_gopher_packing", "q48_streaming",
    "q62_semantic_dedup", "q67_relevance", "q68_semantic_decon",
    "q69_curation", "q70_av_dedup",
}


def query_names(workload: str, queries: dict) -> list[str]:
    if workload == "verbs_sf0.1":
        return [n for n in HEADLINE if n in queries]
    return [n for n in queries if n not in SCALE_QUERIES]


# ---- answer check --------------------------------------------------------
def _na_to_none(v):
    """pandas' missing markers as the gate's ``norm_cell`` expects them."""
    import pandas as pd

    return None if v is pd.NaT or v is pd.NA else v


class Oracle:
    def __init__(self, data_dir: str, oracle_sql: dict):
        import duckdb
        from tools.check_correctness import frame_signature

        self.signature = frame_signature
        self.con = duckdb.connect()
        for fn in sorted(os.listdir(data_dir)):
            if fn.endswith(".parquet"):
                self.con.execute(
                    f"CREATE VIEW {fn[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, fn)}')")
        self.sql = oracle_sql
        self._expected: dict = {}

    def check(self, name: str, pdf) -> str | None:
        """None if ``pdf`` matches the oracle, else what differs."""
        if name not in self._expected:
            res = self.con.execute(self.sql[name])
            self._expected[name] = self.signature(
                [d[0] for d in res.description], res.fetchall())
        ecols, erows = self._expected[name]
        cols = list(pdf.columns)
        rows = zip(*[map(_na_to_none, pdf[c].tolist()) for c in cols])
        gcols, grows = self.signature(cols, list(rows) if cols else [])
        if gcols != ecols:
            return f"columns {gcols} != {ecols}"
        if len(grows) != len(erows):
            return f"{len(grows)} rows != {len(erows)}"
        bad = sum(a != b for a, b in zip(grows, erows))
        return f"{bad}/{len(erows)} rows differ" if bad else None


# ---- tracing hooks -------------------------------------------------------
class _Hooks:
    """Traced-run wrappers. ``read_parquet`` is tracked from the start,
    so a measured read can hit the memo filled during warm-up; ``arm``
    adds the ``sources.read`` span and routes the ``DataFrame.collect``
    that ``Tibble.collect`` issues into an ``exec.action`` span."""

    def __init__(self, tr, entry_mod):
        try:  # the concrete class behind pyspark.sql.DataFrame since Spark 4
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        self.tr, self.entry, self.frame = tr, entry_mod, DataFrame
        self.read, self.collect = entry_mod.read_parquet, DataFrame.collect
        self.reads = self.hits = 0
        self._seen: dict = {}
        entry_mod.read_parquet = self._tracked_read

    def _tracked_read(self, spark, path):
        td = self.read(spark, path)
        prev = self._seen.setdefault(path, [])
        hit = any(td.df is d for d in prev)
        if not hit:
            prev.append(td.df)
        if self.tr.op is not None:
            self.reads += 1
            self.hits += hit
        return td

    def arm(self) -> None:
        tr, collect = self.tr, self.collect

        def traced_collect(df):
            if tr.current() == "tibble.collect":
                with tr.span("exec.action"):
                    return collect(df)
            return collect(df)

        self.entry.read_parquet = tr.wrap("sources.read", self._tracked_read)
        self.frame.collect = traced_collect

    def disarm(self) -> None:
        self.entry.read_parquet = self.read
        self.frame.collect = self.collect


# ---- workload ------------------------------------------------------------
def run(ctx, workload: str, out) -> None:
    import __spark_entry__ as entry_mod
    from datar_polars_spark.plans.cache import internal_cache_count
    from datar_polars_spark.tibble import Tibble

    spark, tr = ctx.spark, ctx.tracer
    data_dir = ctx.data_dir
    queries = entry_mod.queries()
    names = query_names(workload, queries)
    oracle = Oracle(data_dir, entry_mod.oracle_sql())
    hooks = _Hooks(tr, entry_mod) if tr.enabled else None

    def op(name):
        with tr.span("op"):
            with tr.span("dsl.build"):
                sdf = queries[name](spark, data_dir)
            with tr.span("tibble.collect"):
                return Tibble(sdf).collect()

    # warm-up: every query once, spread over the cores so JIT and
    # whole-stage codegen are compiled before timing; not checked here
    # (the measured passes check every answer)
    def warm(name):
        try:
            Tibble(queries[name](spark, data_dir)).collect()
        except Exception as e:  # the measured pass counts it
            out.note(f"warm-up {name}: {type(e).__name__}")

    with ThreadPoolExecutor(ctx.cpus) as pool:
        list(pool.map(warm, names))
    out.setup_done()

    if hooks is not None:
        hooks.arm()
        tr.probe = internal_cache_count

    def untraced_twin(name):
        hooks.disarm()
        try:
            with tr.paused():
                t0 = time.perf_counter()
                try:
                    op(name)
                except Exception:  # the traced run counts it
                    pass
                return time.perf_counter() - t0
        finally:
            hooks.arm()

    rng = random.Random(ctx.seed)
    coin = random.Random(-ctx.seed)  # twin order; keeps ``rng`` as untraced
    busy = 0.0
    passes = 0
    try:
        while passes == 0 or busy < ctx.seconds:
            order = names[:]
            rng.shuffle(order)
            for name in order:
                twin_first = tr.enabled and coin.random() < 0.5
                if twin_first:
                    twin_s = untraced_twin(name)
                tr.op = f"p{passes}:{name}"
                first = len(tr.spans)
                ctx.rss.reset()
                t0 = time.perf_counter()
                err = None
                try:
                    pdf = op(name)
                except Exception as e:  # counted, never fatal
                    err = f"{type(e).__name__}: {str(e)[:200]}"
                dt = time.perf_counter() - t0
                ctx.rss.sample()
                busy += dt
                tr.op = None
                tr.resolve_jobs(first)
                if tr.enabled:
                    out.pair(twin_s if twin_first else untraced_twin(name))
                if err is None:
                    try:
                        err = oracle.check(name, pdf)
                    except Exception as e:  # a broken oracle fails the op
                        err = f"oracle {type(e).__name__}: {str(e)[:200]}"
                out.record(f"p{passes}:{name}", dt, err)
            passes += 1
    finally:
        if hooks is not None:
            hooks.disarm()
    out.note(f"queries={len(names)} passes={passes}")
    if tr.enabled:
        _layer_metrics(tr, out, hooks)


def _layer_metrics(tr, out, hooks) -> None:
    ops = set(out.op_ids)
    n = len(ops)
    agg = tr.by_name(ops)
    total = sum(out.latencies)
    read, build = agg["sources.read"], agg["dsl.build"]
    act, col = agg["exec.action"], agg["tibble.collect"]
    out.layer.update({
        "sources.read_s": read["self_s"] / n,
        "sources.read_jobs": read["jobs"] / n,
        "sources.memo_hit_frac": hooks.hits / max(1, hooks.reads),
        "dsl.build_s": build["self_s"] / n,
        "dsl.build_jobs": build["jobs"] / n,
        "dsl.build_share": build["incl_s"] / total,
        "exec.action_s": act["self_s"] / n,
        "exec.jobs": act["jobs"] / n,
        "exec.stages": act["stages"] / n,
        "exec.tasks": act["tasks"] / n,
        "exec.failed_tasks": act["failed_tasks"] / n,
        "tibble.collect_s": col["self_s"] / n,
        "cache.internal_max": tr.probe_max,
    })
