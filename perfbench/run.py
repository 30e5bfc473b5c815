"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the
seed, sets up a ``local[4]`` session (``setup_s``), runs the timed
section with tracing off, checks the outputs, and prints one JSON
object as the last stdout line. With ``--trace 1`` it then runs one
traced round and untimed extra passes, reports the per-layer
metrics instead of the end-to-end ones and adds the traced spans to
the ``detail`` line. Everything it writes stays under
``.perfbench_work/`` and is removed at exit. Workloads and metrics are
described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

_T_PROCESS = time.perf_counter()

import workloads  # noqa: E402 - perfbench/ is sys.path[0] when run as a script
from metric_names import END_TO_END, PER_LAYER  # noqa: E402
from spark_layers import RssSampler, SparkLayers, sentinel_s  # noqa: E402
from tracing import Tracer, median, tail, tail_mean  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SLOTS = 4  # local[4]; the machine the bounds were set on has 4 cores


def _prepare_env(work: str) -> None:
    """Keep every temporary file of Spark, the JVM and the Python
    workers inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # spark-submit's short-lived launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def setup_session(work: str, warmup) -> tuple[object, dict[str, float]]:
    """The set-up: library imports, JVM launch and session, package
    shipping, shmr source registration and ``warmup(spark)``, one pass
    of every distinct operation. Returns the session and each part's
    seconds."""
    t0 = time.perf_counter()
    from shmr_spark import get_spark
    from shmr_spark.pyship import ensure_package_shipped
    from shmr_spark.sources import ShmrDataSource

    spark = get_spark(app_name="perfbench", master=f"local[{SLOTS}]", shuffle_partitions=SLOTS,
                      extra_conf=_session_conf(work))
    t1 = time.perf_counter()
    ensure_package_shipped(spark)
    t2 = time.perf_counter()
    spark.dataSource.register(ShmrDataSource)
    t3 = time.perf_counter()
    warmup(spark)
    t4 = time.perf_counter()
    return spark, {"session.get_spark_s": t1 - t0, "pyship.ship_s": t2 - t1,
                   "sources.register_s": t3 - t2, "setup.warmup_s": t4 - t3,
                   "setup_s": t4 - t0}


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to
    exit (it exits when its stdin closes; its Python workers follow)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tally(samples, checks: dict[str, str | None]) -> tuple[int, int, list[float]]:
    """(failed, attempted, latencies of the operations that completed).
    An operation fails if it raised or if the output check of its kind
    failed; a completed operation whose check failed keeps its latency,
    so the latency mix does not depend on which checks pass."""
    bad = {name for name, err in checks.items() if err is not None}
    failed = sum(1 for name, _, ok in samples if not ok or name in bad)
    return failed, max(1, len(samples)), [s for _, s, ok in samples if ok]


def traced_layers(wl, ctx, spark, base_round_s: float) -> tuple[dict[str, float], dict]:
    """One traced round plus the workload's untimed extra passes.
    Returns the per-layer values and the extra passes' checks."""
    ctx.tracer = Tracer(True)
    ctx.layers = SparkLayers(spark)
    traced_wall = wl.traced(ctx)
    extra_checks = wl.layer_extras(ctx)
    ctx.layers.close()
    layer = dict(ctx.layer)
    self_t = ctx.tracer.self_times()
    for name in ("catalog.load_table", "queries.build", "dataset.build", "exec.run"):
        layer[f"{name}_s"] = self_t.get(name, 0.0)
    sink_wall = sum(s.duration for s in ctx.tracer.spans if s.name == "exec.run")
    if sink_wall > 0:
        layer["exec.busy_share"] = layer.get("exec.task_run_s", 0.0) / (sink_wall * SLOTS)
    layer["trace.overhead_s"] = traced_wall - base_round_s
    return layer, extra_checks


def main(argv: list[str] | None = None) -> int:
    t_main = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "shmr_spark")):
        print(f"perfbench: no shmr_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    # on SIGTERM, unwind: stop the session and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, work, t_main)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it


def run(args, work: str, t_main: float) -> int:
    wl = workloads.WORKLOADS[args.workload]()
    wl.prepare(work, args.seed)
    ctx = workloads.Ctx(spark=None, work=work, seed=args.seed, tracer=Tracer(False))

    def warmup(spark):
        ctx.spark = spark
        wl.start(ctx)
        wl.warmup(ctx)

    layer: dict[str, float] = {}
    extra_checks: dict[str, str | None] = {}
    with RssSampler() as rss:
        spark, parts = setup_session(work, warmup)
        parts["setup_s"] += t_main - _T_PROCESS  # interpreter start-up
        sentinel_before = sentinel_s(spark)
        timed = wl.timed(ctx, args.seconds)
        peak_rss_mb = rss.peak_bytes / 2**20  # set-up and timed section
        if args.trace:
            layer, extra_checks = traced_layers(wl, ctx, spark, median(timed.round_walls))
        checks = wl.check(ctx)
        sentinel_after = sentinel_s(spark)
        stop_session(spark)

    for name, err in sorted({**checks, **extra_checks}.items()):
        if err is not None:
            print(f"perfbench: check {name} failed: {err}", file=sys.stderr)
    failed, attempted, lat = tally(timed.samples, checks)
    tail_v, tail_pct, n = tail(lat) if lat else (float("nan"), 0.0, 0)
    op_p50 = {k: median([s for m, s, ok in timed.samples if m == k and ok])
              for k in sorted({m for m, _, ok in timed.samples if ok})}
    detail = {
        "workload": args.workload, "seed": args.seed, "rounds": timed.rounds,
        "samples": n, "tail_percentile": tail_pct, "tail_percentile_s": tail_v,
        "setup_parts_s": parts,
        "round_walls_s": timed.round_walls,
        "op_samples_s": [[name, sec] for name, sec, ok in timed.samples if ok],
        "records_per_s": timed.records / timed.wall_s,
        "op_p50_by_name_s": op_p50,
        "checks": checks, "traced_extra_checks": extra_checks,
        "host.peak_rss_mb": peak_rss_mb,
        "host.sentinel_before_s": sentinel_before, "host.sentinel_after_s": sentinel_after,
    }
    if args.trace:
        detail["spans"] = ctx.tracer.to_json()
    print(json.dumps({"detail": detail}))
    if args.trace:
        layer.update({k: v for k, v in parts.items() if k != "setup_s"})
        layer["host.peak_rss_mb"] = peak_rss_mb
        # the extra passes' checks count here, not in `failed`: no timed
        # operation produced them
        extra_failed = sum(1 for err in extra_checks.values() if err is not None)
        layer["error_rate"] = (failed + extra_failed) / (attempted + len(extra_checks))
        layer["host.sentinel_before_s"] = sentinel_before
        layer["host.sentinel_after_s"] = sentinel_after
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        e2e = {"setup_s": parts["setup_s"], "round_p50_s": sum(op_p50.values()),
               "op_tail_s": tail_mean(lat) if lat else float("nan")}
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
