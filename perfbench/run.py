"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: verbs_sf0.001, curate_docs (listed in BENCHMARK.json) and
verbs_sf0.1 (runnable by hand; see README.md); ``--workload all`` runs
each in its own process. Run from the root of a checkout: the program
under test is imported from there. Inputs are generated from source on
first use (``perfbench/datagen.py``) and cached under
``perfbench/.work/``; every file the run writes stays under that
directory.

One closed-loop client: each operation is issued after the previous
one returns, on ``local[N]`` with N the usable cores less one, which
is left to the driver, the answer checks and the host. Warm-up is
untimed and reported as ``setup_s``. ``--trace 1`` records spans with
per-span Spark job accounting and reports per-layer metrics instead of
the end-to-end ones. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")

WORKLOADS = {"verbs_sf0.001": 0.001, "verbs_sf0.1": 0.1, "curate_docs": 0.1}


def _metric_units(kind: str) -> dict:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json lists; a run prints exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


class Outcome:
    """What one run measured."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.setup_s = None
        self.latencies: list[float] = []
        self.untraced: list[float] = []  # traced runs: each op's twin
        self.op_ids: list[str] = []
        self.failed = 0
        self.errors: list[str] = []
        self.notes: list[str] = []
        self.layer: dict = {}

    def exclude_from_setup(self, seconds: float) -> None:
        self.t0 += seconds

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t0

    def record(self, op_id: str, seconds: float, err: str | None) -> None:
        self.op_ids.append(op_id)
        self.latencies.append(seconds)
        if err is not None:
            self.failed += 1
            self.errors.append(f"{op_id}: {err}")

    def pair(self, untraced_s: float) -> None:
        """The untraced time of the operation recorded last."""
        self.untraced.append(untraced_s)

    def note(self, text: str) -> None:
        self.notes.append(text)


def _vmhwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


class PeakRss:
    """VmHWM of the driver plus its JVM child over the measured
    operations only: the high-water marks are reset right before each
    operation and read right after it, before any answer check."""

    def __init__(self):
        self.pids = [os.getpid(), *_children(os.getpid())]
        self.peak_mb = 0.0

    def reset(self) -> None:
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, sum(_vmhwm_mb(p) for p in self.pids))


def _ensure_data(sf: float) -> str:
    """Generate the inputs for ``sf`` unless the cached copy was made by
    the current datagen.py."""
    import hashlib

    import datagen

    with open(datagen.__file__, "rb") as fh:
        stamp = hashlib.sha256(fh.read()).hexdigest()[:16]
    out = os.path.join(WORK, "data", f"sf{sf}")
    try:
        with open(os.path.join(out, "STAMP")) as fh:
            if fh.read() == stamp:
                return out
    except OSError:
        pass
    shutil.rmtree(out, ignore_errors=True)
    datagen.generate(out + ".tmp", sf)
    with open(os.path.join(out + ".tmp", "STAMP"), "w") as fh:
        fh.write(stamp)
    os.replace(out + ".tmp", out)
    return out


def _session(cpus: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.local.dir", TMP)
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and, through it, the Python
    workers) to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def _percentile(xs: list[float], p: int) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def run_one(args) -> int:
    try:  # the program under test, from the root of the checkout
        import __spark_entry__
        import datar_polars_spark
    except ImportError as e:
        print(f"perfbench: program not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    for mod in (__spark_entry__, datar_polars_spark):
        if not os.path.abspath(mod.__file__).startswith(ROOT + os.sep):
            print(f"perfbench: {mod.__name__} imported from outside {ROOT}",
                  file=sys.stderr)
            return 2

    import spans as tracing

    sf = WORKLOADS[args.workload]
    data_dir = _ensure_data(sf)
    run_dir = os.path.join(WORK, "run")
    for d in (run_dir, TMP):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cpus = max(1, len(os.sched_getaffinity(0)) - 1)
    load_start = os.getloadavg()

    out = Outcome()
    spark = _session(cpus)
    try:
        tracer = tracing.Tracer(spark.sparkContext, enabled=bool(args.trace))
        ctx = SimpleNamespace(
            spark=spark, tracer=tracer, data_dir=data_dir, run_dir=run_dir,
            cache_dir=os.path.join(WORK, "data"), seed=args.seed,
            seconds=args.seconds, cpus=cpus, rss=PeakRss())
        if args.workload == "curate_docs":
            import curate

            curate.run(ctx, out)
        else:
            import verbs

            verbs.run(ctx, args.workload, out)
        os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
        stem = os.path.join(WORK, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
        with open(stem + "-ops.json", "w") as fh:
            json.dump(dict(zip(out.op_ids, out.latencies)), fh, indent=0)
        if tracer.enabled:
            span_file = stem + "-spans.jsonl"
            tracer.write(span_file)
            ops = set(out.op_ids)
            out.layer["trace.overhead_frac"] = (
                sum(out.latencies) / sum(out.untraced) - 1.0)
    finally:
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(TMP, ignore_errors=True)
    load_end = os.getloadavg()

    lat = out.latencies
    attempted = len(lat)
    print(f"workload={args.workload} seed={args.seed} local[{cpus}] "
          f"trace={args.trace} loadavg_start={load_start[0]:.2f} "
          f"loadavg_end={load_end[0]:.2f}")
    for n in out.notes:
        print(n)
    print(f"operations={attempted} failed={out.failed} "
          f"failed_frac={out.failed / max(1, attempted):.4f} "
          f"measured_s={sum(lat):.3f}")
    # printed but not listed in BENCHMARK.json: at this run length their
    # run-to-run spread is wider than a third of the largest bound
    print(f"samples={attempted} op_p75_s={_percentile(lat, 75):.4f} "
          f"op_p90_s={_percentile(lat, 90):.4f} "
          f"ops_per_s={attempted / sum(lat):.4f}")
    for e in out.errors[:20]:
        print(f"FAILED {e}")
    if args.trace:
        units = _metric_units("per_layer")
        values = {name: out.layer.get(name, 0.0) for name in units}
        print(f"spans written to {os.path.relpath(span_file, ROOT)}")
        print("self time by span (per operation):")
        print(tracer.self_time_table(ops))
    else:
        units = _metric_units("end_to_end")
        measured = {
            "setup_s": out.setup_s,
            "op_p50_s": statistics.median(lat),
            "peak_rss_mb": ctx.rss.peak_mb,
        }
        values = {name: measured[name] for name in units}
    print("metrics:")
    for name, v in values.items():
        print(f"  {name:<34}{v:>14.6g} {units[name]}")
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process, then one summary line."""
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(p.stdout)
        if p.returncode != 0:
            return p.returncode
        res = json.loads(p.stdout.strip().splitlines()[-1])
        summary["correct"] &= res["correct"]
        summary["attempted"] += res["attempted"]
        summary["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            summary["metrics"][f"{w}/{k}"] = v
    print(json.dumps(summary))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # every file Spark, the JVM and the Python workers write stays here
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
