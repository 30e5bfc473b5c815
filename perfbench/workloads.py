"""The benchmark workloads: registry_queries and partition_etl.

Each workload generates its inputs from the seed (``prepare``), runs
one warm-up pass of every distinct operation as part of set-up
(``warmup``), runs its timed loop (``timed``), runs one traced round
(``traced``) and checks its outputs after the timed section
(``check``). Workloads call the library only through its public
functions: ``QuerySpec.fn``, ``Dataset``, the ``shmr`` data source,
``compat.records``, ``prod_shapes`` and ``streaming``.
"""

from __future__ import annotations

import glob
import gzip
import json
import math
import os
import shutil
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime
from typing import Any, Callable

import datagen
from spark_layers import python_worker_cpu_s
from tracing import Tracer, median, tail

@dataclass
class Ctx:
    spark: Any
    work: str
    seed: int
    tracer: Tracer
    layers: Any = None  # SparkLayers in the traced round
    layer: dict = field(default_factory=lambda: defaultdict(float))

    def after_build(self, op_id: str) -> None:
        """Count the jobs a builder launched (hidden driver actions)."""
        if self.layers is not None:
            self.layer["queries.build_jobs"] += len(self.layers.job_ids(op_id))


@dataclass
class Op:
    name: str
    run: Callable[[Ctx, str], int]  # returns records handled


@dataclass
class Timed:
    """Outcome of a timed section: one ``(operation, seconds, ok)``
    sample per attempted operation."""

    samples: list[tuple[str, float, bool]] = field(default_factory=list)
    records: int = 0
    rounds: int = 0
    wall_s: float = 0.0
    round_walls: list[float] = field(default_factory=list)


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


def _noop_sink(ctx: Ctx, df) -> None:
    from shmr_spark.metrics import noop_sink

    with ctx.tracer.span("exec.run"):
        noop_sink(df)


class ClosedLoop:
    """One client; the next operation starts when the previous ends.
    The timed section is a fixed number of whole rounds, about
    ``--seconds`` long on a 4-core machine at ``ROUND_S`` per round, so
    every operation is sampled equally often and a faster build gets
    the same samples, not more."""

    name = ""
    ROUND_S = 5.0

    def rounds(self, seconds: float) -> int:
        return max(1, math.ceil(seconds / self.ROUND_S))

    def start(self, ctx: Ctx) -> None:
        """Called once the session exists, before the warm-up."""

    def ops(self) -> list[Op]:
        """Every distinct operation, in a fixed order."""
        raise NotImplementedError

    def round_ops(self, rnd: int) -> list[Op]:
        """The operations of round ``rnd``, in an order set by the seed."""
        ops = self.ops()
        order = datagen.rng_for(self.seed, f"order{rnd}").permutation(len(ops))
        return [ops[i] for i in order]

    def warmup(self, ctx: Ctx) -> None:
        """One pass of every operation on the real inputs, so the timed
        rounds start with the library's caches filled and the JVM's code
        paths for these data sizes compiled."""
        for op in self.ops():
            op.run(ctx, f"warmup:{op.name}")

    def timed(self, ctx: Ctx, seconds: float) -> Timed:
        res = Timed()
        t_start = time.perf_counter()
        for _ in range(self.rounds(seconds)):
            t_round = time.perf_counter()
            for op in self.round_ops(res.rounds):
                t0 = time.perf_counter()
                ok = True
                try:
                    res.records += op.run(ctx, f"{op.name}#{res.rounds}")
                except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                    _log_failure(op.name)
                    ok = False
                res.samples.append((op.name, time.perf_counter() - t0, ok))
            res.round_walls.append(time.perf_counter() - t_round)
            res.rounds += 1
        res.wall_s = time.perf_counter() - t_start
        return res

    def traced(self, ctx: Ctx) -> float:
        """One round with spans and per-operation Spark metrics; returns
        its wall time. Status reads happen between operations, outside
        every span."""
        wall = 0.0
        with self.instrument(ctx):
            for op in self.round_ops(0):
                op_id = f"traced:{op.name}"
                ctx.layers.begin(op_id)
                cpu0 = python_worker_cpu_s()
                t0 = time.perf_counter()
                with ctx.tracer.span("op", op=op_id):
                    op.run(ctx, op_id)
                wall += time.perf_counter() - t0
                ctx.layer["pyworker.cpu_s"] += python_worker_cpu_s() - cpu0
                collect_spark(ctx, op_id)
        return wall

    @contextmanager
    def instrument(self, ctx: Ctx):
        yield

    def layer_extras(self, ctx: Ctx) -> dict[str, str | None]:
        """Untimed passes of the traced run that feed per-layer metrics;
        returns the checks of their outputs."""
        return {}


def collect_spark(ctx: Ctx, op_id: str) -> None:
    """Fold the Spark metrics of one finished operation into ctx.layer."""
    layer = ctx.layer
    tot = ctx.layers.stage_totals(ctx.layers.job_ids(op_id))
    layer["exec.jobs"] += len(ctx.layers.job_ids(op_id))
    layer["exec.stages"] += tot["stages"]
    layer["exec.tasks"] += tot["tasks"]
    layer["exec.task_run_s"] += tot["run_ms"] / 1e3
    layer["exec.task_cpu_s"] += tot["cpu_ns"] / 1e9
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        layer[f"exec.{k}"] += tot[k]
    layer["exec.peak_execution_memory_bytes"] = max(
        layer["exec.peak_execution_memory_bytes"], tot["peak_execution_memory_bytes"])
    for q in ctx.layers.take_queries():
        for phase in ("analysis", "optimization", "planning"):
            layer[f"catalyst.{phase}_ms"] += q["phases"].get(phase, 0)
        layer["sources.rows_read"] += q["shmr_rows_read"]


# --------------------------------------------------------------------------
# registry_queries
# --------------------------------------------------------------------------


class RegistryQueries(ClosedLoop):
    """The ten headline registry queries on a generated sf0.1 corpus;
    the seed sets the query order of each round."""

    name = "registry_queries"

    def prepare(self, work: str, seed: int) -> None:
        self.seed = seed
        self.corpus = os.path.join(work, "corpus")
        datagen.write_corpus(self.corpus, seed, sf=0.1)
        self.work = work
        self.stream = StreamReplay(work, self.corpus, seed)

    def start(self, ctx: Ctx) -> None:
        from shmr_spark.queries import load_all

        self.specs = sorted(
            (s for s in load_all().values() if s.headline), key=lambda s: s.name)

    def _op(self, spec) -> Op:
        def run(ctx: Ctx, op_id: str) -> int:
            with ctx.tracer.span("queries.build"):
                df = spec.fn(ctx.spark, self.corpus)
            ctx.after_build(op_id)
            _noop_sink(ctx, df)
            return 0

        return Op(spec.name, run)

    def ops(self) -> list[Op]:
        return [self._op(s) for s in self.specs]

    @contextmanager
    def instrument(self, ctx: Ctx):
        """Wrap ``catalog.load_table`` where the query modules bound it,
        so table loads inside builders get their own span."""
        import shmr_spark.catalog as catalog

        orig = catalog.load_table

        def load_table(*a, **kw):
            with ctx.tracer.span("catalog.load_table"):
                return orig(*a, **kw)

        mods = [m for n, m in list(sys.modules.items())
                if n.startswith("shmr_spark") and getattr(m, "load_table", None) is orig]
        for m in mods:
            m.load_table = load_table
        try:
            yield
        finally:
            for m in mods:
                m.load_table = orig

    def layer_extras(self, ctx: Ctx) -> dict[str, str | None]:
        """Untimed passes for the layers no timed operation reaches:
        MinHash pair counts, the LLM pipeline's held storage, and a
        streaming replay of the corpus events. Returns their checks."""
        from pyspark.sql import functions as F

        from shmr_spark.catalog import load_table
        from shmr_spark.dedup.minhash import minhash_candidate_pairs, verify_jaccard_pairs
        from shmr_spark.prod_shapes import pipeline_e2e

        layer = ctx.layer
        sh, cands = minhash_candidate_pairs(load_table(ctx.spark, self.corpus, "documents"))
        n_cand = layer["dedup.minhash.candidate_pairs"] = cands.count()
        n_ver = layer["dedup.minhash.verified_pairs"] = verify_jaccard_pairs(sh, cands, 0.7).count()
        layer["dedup.minhash.verify_yield"] = n_ver / n_cand if n_cand else 0.0

        # pipeline_e2e on the corpus and on a row-permuted copy of it:
        # the output is the same set of rows
        copy = os.path.join(self.work, "llm_copy")
        datagen.permuted_copy(os.path.join(self.corpus, "documents.parquet"), copy, ctx.seed)
        results = []
        for corpus in (self.corpus, copy):
            df = pipeline_e2e(ctx.spark, corpus)
            row = df.agg(F.count("*").alias("n"),
                         F.expr(f"bit_xor(xxhash64({', '.join(df.columns)}))").alias("h")).collect()[0]
            results.append((row["n"], row["h"]))
        layer["operators.training_pipeline.persisted_bytes"] = ctx.layers.persisted_bytes()
        checks = {"pipeline_e2e": None if results[0] == results[1] and results[0][0] > 0
                  else f"(rows, hash) differ across permuted copies: {results}"}

        self.stream.replay(ctx)
        checks.update(self.stream.check(ctx))
        return checks

    def check(self, ctx: Ctx) -> dict[str, str | None]:
        """Each query's rows equal its DuckDB oracle twin's, compared
        order-insensitively."""
        import duckdb

        con = duckdb.connect()
        for path in glob.glob(os.path.join(self.corpus, "*.parquet")):
            table = os.path.basename(path).split(".")[0]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        out: dict[str, str | None] = {}
        for spec in self.specs:
            try:
                sdf = spec.fn(ctx.spark, self.corpus)
                s_rows = _norm_rows(list(sdf.columns), [tuple(r) for r in sdf.collect()])
                res = con.execute(spec.oracle)
                d_rows = _norm_rows([d[0] for d in res.description], res.fetchall())
                if not s_rows[1]:
                    out[spec.name] = "empty result"
                elif s_rows != d_rows:
                    out[spec.name] = f"differs from oracle ({len(s_rows[1])} vs {len(d_rows[1])} rows)"
                else:
                    out[spec.name] = None
            except Exception as e:  # noqa: BLE001 - report the check as failed
                out[spec.name] = f"{type(e).__name__}: {e}"
        con.close()
        return out


def _norm_cell(v):
    if isinstance(v, float) and v != v:
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def _norm_rows(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows), key=repr)
    return [cols[i] for i in order], out


# --------------------------------------------------------------------------
# partition_etl
# --------------------------------------------------------------------------

ETL_SCHEMA = "id bigint, key string, value bigint, flag bigint, note string"
AGG_SCHEMA = "key string, n bigint, sum bigint"


def _fold_fns():
    """Key function and 1-arg-seeded fold for compat.reduce_by_key_records.
    Built in a function so they are pickled by value for the workers."""

    def key_fn(rec):
        return rec["key"]

    def fold(rec, acc=None):
        if acc is None:
            return {"key": rec["key"], "n": 1, "sum": rec["value"]}
        if "n" in rec:  # merging two partial accumulators
            return {"key": acc["key"], "n": acc["n"] + rec["n"], "sum": acc["sum"] + rec["sum"]}
        return {"key": acc["key"], "n": acc["n"] + 1, "sum": acc["sum"] + rec["value"]}

    return key_fn, fold


class PartitionEtl(ClosedLoop):
    """Four jobs over gzip ND-JSON partitions in the shmr layout, one
    task per file: (a) shmr scan -> filter -> reduce_by_key -> shmr
    write, (b) the same through the native JSON reader, (c)
    split_by_key -> shmr write of every record, (d) a Python fold
    through compat.reduce_by_key_records."""

    name = "partition_etl"
    ROUND_S = 11.0
    N_FILES, PER_FILE, N_KEYS = 8, 25000, 5000

    def prepare(self, work: str, seed: int) -> None:
        self.seed = seed
        d = os.path.join(work, "parts")
        self.expect = datagen.write_partitions(d, seed, self.N_FILES, self.PER_FILE, self.N_KEYS)
        self.glob = os.path.join(d, "part-*.json.gz")
        self.out = {j: os.path.join(work, f"out_{j}") for j in "abcd"}
        self.n_input = self.N_FILES * self.PER_FILE
        self.input_bytes = sum(os.path.getsize(f) for f in glob.glob(self.glob))

    def _read_shmr(self, spark):
        from shmr_spark import Dataset

        return Dataset(spark.read.format("shmr").schema(ETL_SCHEMA).load(self.glob))

    @staticmethod
    def _write(ctx: Ctx, ds, path: str) -> None:
        with ctx.tracer.span("exec.run"):
            ds.df.write.format("shmr").option("compression", "gz").mode("overwrite").save(path)

    @staticmethod
    def _aggregate(ds):
        from pyspark.sql import functions as F

        return ds.filter(F.col("flag") != 0).reduce_by_key(
            ["key"], F.count("*").alias("n"), F.sum("value").alias("sum"))

    def _fold(self, spark):
        from shmr_spark.compat.records import reduce_by_key_records

        key_fn, fn = _fold_fns()
        return reduce_by_key_records(self._read_shmr(spark), key_fn, fn, schema=AGG_SCHEMA)

    def ops(self) -> list[Op]:
        def job(name: str, out: str, build: Callable, records: int) -> Op:
            def run(ctx: Ctx, op_id: str) -> int:
                with ctx.tracer.span("dataset.build"):
                    ds = build(ctx.spark)
                ctx.after_build(op_id)
                self._write(ctx, ds, self.out[out])
                return records

            return Op(name, run)

        def json_read(spark):
            from shmr_spark.sources import read_ndjson

            return read_ndjson(spark, self.glob, ETL_SCHEMA)

        n_out = len(self.expect)
        return [
            job("shmr_reduce_write", "a",
                lambda spark: self._aggregate(self._read_shmr(spark)), self.n_input + n_out),
            job("json_reduce_write", "b",
                lambda spark: self._aggregate(json_read(spark)), self.n_input + n_out),
            job("split_by_key_write", "c",
                lambda spark: self._read_shmr(spark).split_by_key("key", self.N_FILES),
                2 * self.n_input),
            job("compat_fold_write", "d", self._fold, self.n_input + n_out),
        ]

    def layer_extras(self, ctx: Ctx) -> dict[str, str | None]:
        """Scan-only and write-only passes split the source layer, and a
        fold-only pass less the scan-only one gives the compat fold's
        own time; file counts and sizes come from the outputs of the
        traced round."""
        from shmr_spark.metrics import noop_sink

        layer = ctx.layer
        written = [f for d in self.out.values() for f in glob.glob(os.path.join(d, "part-*.json.gz"))]
        layer["sources.files_written"] = len(written)
        layer["sources.bytes_written"] = sum(os.path.getsize(f) for f in written)
        layer["sources.write_amplification"] = layer["sources.bytes_written"] / self.input_bytes
        layer["compat.records"] = self.n_input
        t0 = time.perf_counter()
        noop_sink(self._read_shmr(ctx.spark).df)
        layer["sources.scan_s"] = time.perf_counter() - t0
        cached = self._read_shmr(ctx.spark).df.cache()
        cached.count()
        t0 = time.perf_counter()
        cached.write.format("shmr").option("compression", "gz").mode("overwrite").save(
            os.path.join(ctx.work, "write_only_out"))
        layer["sources.write_s"] = time.perf_counter() - t0
        cached.unpersist(blocking=True)
        t0 = time.perf_counter()
        noop_sink(self._fold(ctx.spark).df)
        layer["compat.fold_s"] = time.perf_counter() - t0 - layer["sources.scan_s"]
        return {"write_only": _check_sidecars(os.path.join(ctx.work, "write_only_out"))}

    def check(self, ctx: Ctx) -> dict[str, str | None]:
        kept = {k: (e["n_kept"], e["sum_kept"]) for k, e in self.expect.items() if e["n_kept"]}
        every = {k: (e["n"], e["sum"]) for k, e in self.expect.items()}
        out = {}
        for name, job, want in (("shmr_reduce_write", "a", kept), ("json_reduce_write", "b", kept),
                                ("compat_fold_write", "d", every)):
            out[name] = _check_output(self.out[job], want)
        out["split_by_key_write"] = self._check_split()
        return out

    def _check_split(self) -> str | None:
        err = _check_sidecars(self.out["c"])
        if err:
            return err
        home: dict[str, str] = {}
        n = 0
        for path in glob.glob(os.path.join(self.out["c"], "part-*.json.gz")):
            for rec in _read_records(path):
                n += 1
                if home.setdefault(rec["key"], path) != path:
                    return f"key {rec['key']} lands in more than one file"
        if n != self.n_input:
            return f"{n} records written, {self.n_input} read"
        return None


def _read_records(path: str):
    with gzip.open(path, "rt") as f:
        for line in f:
            yield json.loads(line)


def _check_sidecars(out_dir: str) -> str | None:
    """The .meta sidecars sum to the _SUCCESS record count."""
    try:
        with open(os.path.join(out_dir, "_SUCCESS")) as f:
            total = json.load(f)["n_records"]
    except (OSError, ValueError, KeyError) as e:
        return f"no readable _SUCCESS: {e}"
    metas = 0
    for m in glob.glob(os.path.join(out_dir, "part-*.meta")):
        with open(m) as f:
            metas += json.load(f)["n_records"]
    return None if metas == total else f".meta sum {metas} != _SUCCESS {total}"


def _check_output(out_dir: str, want: dict[str, tuple[int, int]]) -> str | None:
    err = _check_sidecars(out_dir)
    if err:
        return err
    got = {}
    for path in glob.glob(os.path.join(out_dir, "part-*.json.gz")):
        for rec in _read_records(path):
            got[rec["key"]] = (rec["n"], rec["sum"])
    if got != want:
        bad = sorted(set(got.items()) ^ set(want.items()))[:3]
        return f"{len(got)} keys read back, {len(want)} expected; first differences {bad}"
    return None


# --------------------------------------------------------------------------
# streaming replay (traced run of registry_queries)
# --------------------------------------------------------------------------


@dataclass
class Phase:
    """One streaming phase: when each file was due and landed, which
    batch consumed it, and the progress of every trigger."""

    table: str
    due: list[float]
    landed: list[float]
    batch_of: dict[int, int]  # file index -> batch id
    progress: list[dict]

    def batch_end(self) -> dict[int, float]:
        """Batch id -> wall-clock end of the trigger that ran it."""
        return {p["batchId"]: _trigger_start(p) + p["durationMs"]["triggerExecution"] / 1e3
                for p in reversed(self.progress) if "addBatch" in p.get("durationMs", {})}

    def freshness(self) -> list[float | None]:
        ends = self.batch_end()
        return [
            ends[self.batch_of[i]] - self.due[i]
            if i in self.batch_of and self.batch_of[i] in ends else None
            for i in range(len(self.due))
        ]

    def backlog_max(self) -> int:
        """Most files landed but not yet consumed when a trigger began."""
        worst = 0
        for p in self.progress:
            start = _trigger_start(p)
            waiting = sum(1 for i, t in enumerate(self.landed)
                          if t <= start and self.batch_of.get(i, 1 << 60) >= p["batchId"])
            worst = max(worst, waiting)
        return worst


def _trigger_start(progress: dict) -> float:
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    name = os.path.basename(rec["path"])
                    out[name] = min(out.get(name, rec["batchId"]), rec["batchId"])
    return out


class StreamReplay:
    """Open loop: one generator thread renames time-ordered event files
    into a watched directory on a fixed schedule, one file every
    ``INTERVAL_S``. Phase one feeds tumbling_window_stream, phase two
    sessionize_stream, both over read_events_stream with default
    batching. Freshness of a file runs from its due time to the end of
    the trigger that consumed it."""

    N_FILES = 24
    INTERVAL_S = 0.25
    KINDS = ("tumbling", "sessionize")

    def __init__(self, work: str, corpus: str, seed: int):
        self.work, self.corpus = work, corpus
        self.files = datagen.split_events(
            os.path.join(corpus, "events.parquet"), os.path.join(work, "stream_files"),
            self.N_FILES, seed)

    @staticmethod
    def _query(ctx: Ctx, kind: str, inbox: str):
        from shmr_spark.streaming import read_events_stream, sessionize_stream
        from shmr_spark.streaming.windows import tumbling_window_stream

        events = read_events_stream(ctx.spark, inbox)
        return tumbling_window_stream(events) if kind == "tumbling" else sessionize_stream(events)

    def phase(self, ctx: Ctx, kind: str) -> Phase:
        base = os.path.join(self.work, f"stream_{kind}")
        stage, inbox, ckpt = (os.path.join(base, d) for d in ("stage", "in", "ckpt"))
        os.makedirs(stage)
        os.makedirs(inbox)
        for f in self.files:
            shutil.copy(f, stage)
        table = f"perfbench_{kind}"
        with ctx.tracer.span(f"streaming.{kind}.start"):
            q = (self._query(ctx, kind, inbox).writeStream.outputMode("update")
                 .format("memory").queryName(table)
                 .option("checkpointLocation", ckpt).start())
        names = [os.path.basename(f) for f in self.files]
        t0 = time.time() + 0.2
        due = [t0 + i * self.INTERVAL_S for i in range(len(names))]
        landed = [0.0] * len(names)

        def land():
            for i, name in enumerate(names):
                time.sleep(max(0.0, due[i] - time.time()))
                os.rename(os.path.join(stage, name), os.path.join(inbox, name))
                landed[i] = time.time()

        gen = threading.Thread(target=land, daemon=True)
        gen.start()
        try:
            gen.join()
            q.processAllAvailable()
        finally:
            progress = [json.loads(p.json) for p in q.recentProgress]
            q.stop()
            gen.join()
        batches = _file_batches(ckpt)
        return Phase(table, due, landed,
                     {i: batches[n] for i, n in enumerate(names) if n in batches}, progress)

    def replay(self, ctx: Ctx) -> None:
        """Both phases with a StreamingQueryListener; folds each phase's
        trigger progress into ctx.layer and adds one span per trigger."""
        from pyspark.sql.streaming import StreamingQueryListener

        events: list[dict] = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = Listener()
        ctx.spark.streams.addListener(listener)
        layer, fresh = ctx.layer, []
        try:
            for kind in self.KINDS:
                with ctx.tracer.span(f"streaming.{kind}", op=f"traced:{kind}") as root:
                    ph = self.phase(ctx, kind)
                ctx.layers.drain()
                ph.progress = [e for e in events if e.get("name") == ph.table]
                self._fold_progress(ctx, ph, root)
                fresh += [f for f in ph.freshness() if f is not None]
        finally:
            ctx.spark.streams.removeListener(listener)
        n = max(1, layer["streaming.triggers"])
        for k in ("trigger", "addBatch", "walCommit", "commitOffsets", "queryPlanning",
                  "latestOffset", "getBatch", "state_commit"):
            layer[f"streaming.{k}_ms"] /= n  # per-trigger means
        if fresh:
            layer["streaming.freshness_p50_s"] = median(fresh)
            layer["streaming.freshness_tail_s"] = tail(fresh)[0]

    def _fold_progress(self, ctx: Ctx, ph: Phase, root) -> None:
        layer = ctx.layer
        ran = [p for p in ph.progress if "addBatch" in p.get("durationMs", {})]
        ends = ph.batch_end()
        wall_to_perf = time.perf_counter() - time.time()
        for p in ran:
            d = p["durationMs"]
            end = ends[p["batchId"]]
            ctx.tracer.add("streaming.trigger", root.op, root.id,
                           end - d["triggerExecution"] / 1e3 + wall_to_perf, end + wall_to_perf)
            layer["streaming.triggers"] += 1
            layer["streaming.trigger_ms"] += d["triggerExecution"]
            for k in ("addBatch", "walCommit", "commitOffsets", "queryPlanning",
                      "latestOffset", "getBatch"):
                layer[f"streaming.{k}_ms"] += d.get(k, 0)
            for s in p.get("stateOperators", []):
                layer["streaming.state_commit_ms"] += s.get("commitTimeMs", 0)
                layer["streaming.late_rows_dropped"] += s.get("numRowsDroppedByWatermark", 0)
        last_state = ran[-1].get("stateOperators", []) if ran else []
        layer["streaming.state_rows_total"] += sum(s.get("numRowsTotal", 0) for s in last_state)
        layer["streaming.state_memory_bytes"] += sum(s.get("memoryUsedBytes", 0) for s in last_state)
        layer["streaming.backlog_files_max"] = max(
            layer["streaming.backlog_files_max"], ph.backlog_max())
        layer["streaming.generator_late_s_max"] = max(
            layer["streaming.generator_late_s_max"],
            max(l - d for l, d in zip(ph.landed, ph.due)))

    def check(self, ctx: Ctx) -> dict[str, str | None]:
        """The final per-window and per-user results equal the batch
        twins over the landed files."""
        from pyspark.sql import functions as F

        from shmr_spark.queries import load_all

        reg = load_all()
        out = {}
        pairs = {
            "tumbling": (["window_start", "event_type"], ["n", "sum_value"], "window_tumbling"),
            "sessionize": (["user_id"], ["n_sessions", "n_events"], "sessionize"),
        }
        for kind, (keys, vals, twin) in pairs.items():
            try:
                got = (ctx.spark.table(f"perfbench_{kind}").groupBy(*keys)
                       .agg(*[F.max(v).alias(v) for v in vals]))
                want = reg[twin].fn(ctx.spark, self.corpus).select(*keys, *vals)
                g = sorted(tuple(r) for r in got.collect())
                w = sorted(tuple(r) for r in want.collect())
                if g == w and g:
                    out[f"stream.{kind}"] = None
                else:
                    n_diff = sum(1 for x, y in zip(g, w) if x != y) + abs(len(g) - len(w))
                    out[f"stream.{kind}"] = (f"{n_diff} of {len(w)} rows differ from the batch twin; "
                                            f"first {[(x, y) for x, y in zip(g, w) if x != y][:2]}")
            except Exception as e:  # noqa: BLE001 - report the check as failed
                out[f"stream.{kind}"] = f"{type(e).__name__}: {e}"
        return out


WORKLOADS = {w.name: w for w in (RegistryQueries, PartitionEtl)}
