#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads (each a closed loop with one
caller thread; the only other threads are the ingest's own pool):

- ``etl_ingest``: ingest a seeded multipart, multi-schedule bulk zip
  with a POR member and malformed rows, again and again, each time into
  a fresh output directory (``operators.process.ffiec_process``);
- ``query_resident``: first-touch builds, then warm serves, of four
  resident-state queries over the generated sf0.01 tables, in a
  seed-permuted order per pass.

Each run sets up the session, runs one cold pass (the first call of
every operation in the process) and then warm passes until
``--seconds`` have elapsed.  Outputs are checked once, after the timed
region: query
results against the DuckDB oracle's canonical hashes in
``expected.json``, ingest outputs cell by cell against the generator's
facts.

``--trace 0`` prints the end-to-end metrics.  Every metric is printed
for every workload; three of them only mean something on one kind:
``cells_per_s`` and ``stored_bytes_per_cell`` are the ingest's
(on ``query_resident`` they are the input tables' cells over the warm
pass and their on-disk bytes per cell, a constant), and
``warm_geomean_s`` is the query mix's (an ingest pass is one operation,
so there it equals ``warm_s``).  ``--trace 1`` alternates
untraced and traced warm passes, probes Spark's status store after every
call, writes the spans, and prints the per-layer metrics.  The last line
of standard output is one JSON object; the full result (environment
stamp, per-operation and per-pass records) goes to
``.perfbench_work/results/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

from probe import StatusProbe, covered  # noqa: E402

# dedup_clusters_incremental and stream_bm25_index_fold are left out of
# the resident mix: their cold builds take 22-30 s and 8 s on 4 cores,
# which would push one run past its share of the benchmark's run budget
RESIDENT = [
    "ann_ivfpq_residual_topk",
    "embedding_probe_train_scores",
    "retrieval_rrf_hybrid",
    "dedup_minhash_lsh",
]
# Sizes are the largest that keep one run near a minute on 4 cores.
# etl_ingest: the 10k banks of the zip scripts/etl_bench.py ingests by
# default, with 36 items over three schedules instead of its 60.
# query_resident: sf0.01, the registry's certification scale (at sf0.1
# the cold pass alone takes about 57 s).  ``warm_passes`` is the least
# number of warm passes a run makes: with three, the median drops the
# first warm pass, which still pays JIT warm-up.
WORKLOADS = {
    "etl_ingest": {
        "kind": "etl", "warm_passes": 2,
        "n_banks": 10_000, "n_items": 12, "n_parts": 3, "n_schedules": 3,
    },
    "query_resident": {
        "kind": "query", "warm_passes": 3, "sf": 0.01, "queries": RESIDENT,
    },
}
PROCESS_STAGES = (
    "manifest_validate", "audit_batch", "parse_repair", "combine_write_wide",
    "por", "long_build", "schedule_pq", "log_write",
)


class _NoTracer:
    """Tracing off: spans cost nothing and record nothing."""

    @contextmanager
    def span(self, name, layer, parent=None, **attrs):
        yield {"id": None}

    def add(self, *a, **k):
        return None


# --------------------------------------------------------------------------
# per-call layer accounting


def _op_layers(rec: dict, counters: dict, jobs: list[dict]) -> None:
    """Fold the status-store counters of one call into its record."""
    rec.update(counters)
    wall = rec["wall_s"]
    rec["driver_s"] = wall - covered(
        [(j["start"], j["end"]) for j in jobs], rec["t0"], rec["t1"]
    )


def _ratios(m: dict, cpus: int) -> dict:
    wall = m.get("wall_s", 0.0)
    m["driver_frac"] = m["driver_s"] / wall if wall else 0.0
    m["busy_frac"] = m["run_s"] / (wall * cpus) if wall else 0.0
    m["cpu_frac"] = m["cpu_s"] / m["run_s"] if m["run_s"] else 0.0
    m["shuffle_per_input"] = (
        m["shuffle_write_bytes"] / m["input_bytes"] if m["input_bytes"] else 0.0
    )
    return m


ADDITIVE = (
    "wall_s", "build_s", "execute_s", "driver_s", "jobs", "stages", "tasks",
    "run_s", "cpu_s", "gc_s", "input_bytes", "output_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
) + tuple(f"process.{s}_s" for s in PROCESS_STAGES)


def _pass_layers(ops: list[dict], cpus: int) -> dict:
    m = {k: sum(op.get(k, 0) for op in ops) for k in ADDITIVE}
    stage_sum = sum(m[f"process.{s}_s"] for s in PROCESS_STAGES)
    m["process.overlap"] = stage_sum / m["wall_s"] if m["wall_s"] and stage_sum else 0.0
    return _ratios(m, cpus)


# --------------------------------------------------------------------------
# the run


class Run:
    def __init__(self, args, cfg: dict) -> None:
        self.args, self.cfg = args, cfg
        self.traced = bool(args.trace)
        if self.traced:
            from spans import Tracer

            self.tracer = Tracer()
        else:
            self.tracer = _NoTracer()
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.records: list[dict] = []  # every timed operation
        self.frames: dict = {}  # each query's latest result, for the checks
        self.probe = None
        self.cpus = len(os.sched_getaffinity(0))
        self.rng = random.Random(args.seed)

    # ---- set-up ----------------------------------------------------------

    def setup(self, run_span: int | None) -> dict:
        tr = self.tracer
        phases = {}
        t = time.perf_counter()
        with tr.span("session.start", "session", run_span):
            from ffiec_pq_spark.session import get_spark

            self.spark = get_spark("perfbench")
        phases["session.start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tr.span("session.import", "session", run_span):
            from ffiec_pq_spark import catalog

            self.queries = catalog.queries()
        phases["session.import_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tr.span("session.warmup", "session", run_span):
            self.spark.range(1000).selectExpr("sum(id)").collect()
        phases["session.warmup_s"] = time.perf_counter() - t
        self.setup_s = time.perf_counter() - T_PROCESS
        if self.traced:
            self.probe = StatusProbe(self.spark)
        return phases

    # ---- one operation ---------------------------------------------------

    def _probe_op(self, rec: dict, parents: list[tuple[int, float, float]]) -> None:
        """Attach status-store counters and job spans to one record."""
        counters, jobs = self.probe.collect()
        _op_layers(rec, counters, jobs)
        for j in jobs:
            parent = rec["span"]
            for sid, lo, hi in parents:
                if lo <= j["start"] <= hi:
                    parent = sid
            self.tracer.add(
                f"job.{j['job']}", "executor", j["start"], j["end"], parent
            )

    def query_op(self, name: str, pass_span, pass_kind: str, traced: bool) -> dict:
        tr = self.tracer if traced else _NoTracer()
        if traced:
            self.probe.mark()
        rec = {"op": name, "pass": pass_kind, "traced": traced, "ok": True}
        parts: list[dict] = []  # the build and execute spans
        rec["t0"] = time.time()
        p0 = p1 = time.perf_counter()
        with tr.span(name, "query", pass_span) as q:
            try:
                with tr.span("build", "queries.build", q["id"]) as b:
                    parts.append(b)
                    df = self.queries[name](self.spark, self.sf_dir)
                p1 = time.perf_counter()
                with tr.span("execute", "queries.execute", q["id"]) as e:
                    parts.append(e)
                    df.write.format("noop").mode("overwrite").save()
                self.frames[name] = df
            except Exception as exc:  # noqa: BLE001 — counted as failed
                rec["ok"], rec["error"] = False, f"{type(exc).__name__}: {exc}"[:300]
        p2 = time.perf_counter()
        rec["t1"] = time.time()
        rec.update(wall_s=p2 - p0, build_s=p1 - p0, execute_s=p2 - p1, span=q["id"])
        if traced:
            self._probe_op(
                rec, [(s["id"], s["start"], s["end"]) for s in parts]
            )
        return rec

    def ingest_op(self, pass_span, pass_kind: str, traced: bool, idx: int) -> dict:
        from ffiec_pq_spark.operators.process import ffiec_process
        from spans import SpanClock

        tr = self.tracer if traced else _NoTracer()
        out_dir = os.path.join(self.run_dir, f"ingest-{pass_kind}-{idx}")
        if traced:
            self.probe.mark()
        rec = {"op": "ffiec_process", "pass": pass_kind, "traced": traced,
               "ok": True, "out_dir": out_dir}
        rec["t0"] = time.time()
        p0 = time.perf_counter()
        with tr.span("ffiec_process", "query", pass_span) as q:
            clock = SpanClock(self.tracer, q["id"]) if traced else None
            try:
                ffiec_process(
                    self.spark, [self.zip.path], self.zip.type_dict, out_dir,
                    clock=clock,
                )
            except Exception as exc:  # noqa: BLE001 — counted as failed
                rec["ok"], rec["error"] = False, f"{type(exc).__name__}: {exc}"[:300]
        rec["t1"] = time.time()
        rec.update(wall_s=time.perf_counter() - p0, build_s=0.0, execute_s=0.0,
                   span=q["id"])
        if traced:
            for s in PROCESS_STAGES:
                rec[f"process.{s}_s"] = clock.seconds.get(s, 0.0)
            self._probe_op(rec, [])
        return rec

    # ---- passes ----------------------------------------------------------

    def one_pass(self, kind: str, idx: int, traced: bool, run_span) -> dict:
        tr = self.tracer if traced else _NoTracer()
        t0 = time.perf_counter()
        with tr.span(f"pass.{kind}.{idx}", "pass", run_span) as ps:
            if self.cfg["kind"] == "etl":
                ops = [self.ingest_op(ps["id"], kind, traced, idx)]
            else:
                order = list(self.mix)
                self.rng.shuffle(order)
                ops = [self.query_op(n, ps["id"], kind, traced) for n in order]
        wall = time.perf_counter() - t0
        for op in ops:
            op["pass_idx"] = idx
            self.records.append(op)
        if self.cfg["kind"] == "etl" and kind == "warm":
            shutil.rmtree(ops[0]["out_dir"], ignore_errors=True)
        return {"kind": kind, "idx": idx, "traced": traced, "wall_s": wall,
                "ops": ops}

    # ---- inputs ----------------------------------------------------------

    def prepare_inputs(self) -> dict:
        os.makedirs(self.run_dir, exist_ok=True)
        if self.cfg["kind"] == "etl":
            from zipgen import make_bulk_zip

            c = self.cfg
            self.zip = make_bulk_zip(
                self.run_dir, self.args.seed, c["n_banks"], c["n_items"],
                c["n_parts"], c["n_schedules"],
            )
            self.mix = ["ffiec_process"]
            return {
                "zip_bytes": self.zip.zip_bytes, "cells": self.zip.cells,
                "n_banks": c["n_banks"], "n_items": c["n_items"],
                "n_parts": c["n_parts"], "n_schedules": c["n_schedules"],
                "malformed_rows": self.zip.malformed_rows,
            }
        from datagen import ensure_dataset, table_cells

        self.sf_dir = ensure_dataset(WORK, self.cfg["sf"])
        self.mix = list(self.cfg["queries"])
        cells, size = table_cells(self.sf_dir)
        self.input_cells, self.input_bytes = cells, size
        return {"sf": self.cfg["sf"], "cells": cells, "input_bytes": size,
                "queries": self.mix}

    # ---- checks ----------------------------------------------------------

    def check_queries(self) -> dict:
        from check import canonical_hash
        from datagen import GENERATOR_VERSION

        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)
        table = expected[f"v{GENERATOR_VERSION}_sf{self.cfg['sf']}"]
        out = {}
        for name in self.mix:
            try:
                df = self.frames.get(name)
                if df is None:  # every call failed: build it once more
                    df = self.queries[name](self.spark, self.sf_dir)
                got = list(canonical_hash(df.toPandas()))
            except Exception as exc:  # noqa: BLE001
                got = f"{type(exc).__name__}: {exc}"[:300]
            out[name] = {"ok": got == table.get(name), "got": got,
                         "expected": table.get(name)}
        return out

    def check_ingest(self, out_dir: str) -> dict:
        from etlcheck import check_outputs

        try:
            return {"ffiec_process": check_outputs(out_dir, self.zip)}
        except OSError as exc:  # an output the ingest should have written
            return {"ffiec_process": {"ok": False, "problems": [repr(exc)]}}

    # ---- resident footprint ----------------------------------------------

    def resident(self) -> dict:
        from ffiec_pq_spark.resident import resident_state_report

        rep = resident_state_report(self.spark)
        st = rep.pop("_spark_storage", {})
        return {
            "entries": sum(v["entries"] for v in rep.values()),
            "state_disk_bytes": sum(v["disk_bytes"] for v in rep.values()),
            "storage_mem_bytes": st.get("mem_bytes", 0),
            "storage_disk_bytes": st.get("disk_bytes", 0),
            "by_memo": rep,
        }

    def peak_rss_mb(self) -> tuple[float, dict]:
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0, {"python_kb": py_kb, "jvm_kb": jvm_kb}

    # ---- teardown --------------------------------------------------------

    def teardown(self) -> None:
        """Stop the session and wait for the JVM to exit; drop every
        file the run wrote except its results."""
        if getattr(self, "spark", None) is None:
            shutil.rmtree(self.run_dir, ignore_errors=True)
            return
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        try:
            from ffiec_pq_spark.resident import clear_all_resident_state

            clear_all_resident_state()
        except Exception:  # noqa: BLE001 — still stop the JVM below
            pass
        gw = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Py4JError:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        shutil.rmtree(self.run_dir, ignore_errors=True)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def source_digest(pkg_dir: str) -> str:
    """sha256 over the engine's Python sources: identifies the measured
    code when the checkout carries no git metadata."""
    import hashlib

    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(pkg_dir):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, pkg_dir).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def env_stamp() -> dict:
    import duckdb
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": int(os.environ.get("SPARK_GRAFT_CPUS", "0"))
        or os.cpu_count(),
        "FFIEC_ETL_PARALLELISM": int(os.environ.get("FFIEC_ETL_PARALLELISM", "4")),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": commit,
        "source_sha256": source_digest(os.path.join(ROOT, "ffiec_pq_spark")),
    }


def run_workload(args) -> dict:
    r = Run(args, WORKLOADS[args.workload])
    try:
        result = measure(r, args)
    finally:
        t = time.perf_counter()
        r.teardown()
    result["phases_s"]["teardown"] = time.perf_counter() - t
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(
        os.path.join(WORK, "results",
                     f"{args.workload}_seed{args.seed}_trace{args.trace}.json"),
        "w",
    ) as f:
        json.dump(result, f, indent=1, default=str)
    return result


def measure(r: Run, args) -> dict:
    cfg = r.cfg
    tr = r.tracer
    clock = time.perf_counter
    phases: dict[str, float] = {}
    with tr.span(f"run.{args.workload}", "run") as run_span:
        setup_phases = r.setup(run_span["id"])
        t = clock()
        inputs = r.prepare_inputs()
        res_setup = r.resident() if r.traced else None
        phases["inputs"] = clock() - t
        cold = r.one_pass("cold", 0, r.traced, run_span["id"])
        res_cold = r.resident() if r.traced else None
        # warm passes until --seconds have elapsed; a traced run
        # interleaves plain and traced passes as P T T P P T T P ... and
        # stops after an even number, so it has as many of each and a
        # drift across a long run (JIT, caches) does not bias the
        # tracing overhead
        warm: list[dict] = []
        t_warm = clock()
        i = 1
        while True:
            n_plain = sum(1 for p in warm if not p["traced"])
            enough = (
                len(warm) >= 2 and len(warm) % 2 == 0
                if r.traced else n_plain >= cfg["warm_passes"]
            )
            if enough and clock() - t_warm >= args.seconds:
                break
            traced = r.traced and i % 4 in (2, 3)
            warm.append(r.one_pass("warm", i, traced, run_span["id"]))
            i += 1
        phases["warm"] = clock() - t_warm
        res_warm = r.resident() if r.traced else None
    # ---- outside the timed region ----
    rss_mb, rss = r.peak_rss_mb()
    t = clock()
    if cfg["kind"] == "etl":
        checks = r.check_ingest(cold["ops"][0]["out_dir"])
    else:
        checks = r.check_queries()
    phases["checks"] = clock() - t

    plain = [p for p in warm if not p["traced"]]
    per_op: dict[str, list[float]] = {}
    for p in plain:
        for op in p["ops"]:
            per_op.setdefault(op["op"], []).append(op["wall_s"])
    warm_geo = math.exp(
        statistics.fmean(math.log(_median(v)) for v in per_op.values())
    )
    warm_s = _median([p["wall_s"] for p in plain])
    if cfg["kind"] == "etl":
        cells = r.zip.cells
        out_dir = cold["ops"][0]["out_dir"]
        stored = sum(
            os.path.getsize(os.path.join(out_dir, f))
            for f in os.listdir(out_dir)
            if f.endswith(".parquet") and f != "ffiec_item_schedules.parquet"
        ) if os.path.isdir(out_dir) else 0
    else:
        cells, stored = r.input_cells, r.input_bytes
    e2e = {
        "setup_s": (r.setup_s, "s"),
        "cold_s": (cold["wall_s"], "s"),
        "warm_s": (warm_s, "s"),
        "warm_geomean_s": (warm_geo, "s"),
        "cells_per_s": (cells / warm_s if warm_s else 0.0, "cells/s"),
        "stored_bytes_per_cell": (stored / cells if cells else 0.0, "B/cell"),
    }

    wrong = {n for n, c in checks.items() if not c["ok"]}
    attempted = len(r.records)
    failed = sum(1 for op in r.records if not op["ok"] or op["op"] in wrong)

    result = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": int(r.traced), "env": env_stamp(), "inputs": inputs,
        "attempted": attempted, "failed": failed,
        "fail_frac": failed / attempted if attempted else 1.0,
        "checks": checks, "rss": {"peak_rss_mb": rss_mb, **rss},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "passes": [
            {"kind": p["kind"], "idx": p["idx"], "traced": p["traced"],
             "wall_s": p["wall_s"],
             "ops": [{k: v for k, v in op.items() if k not in ("t0", "t1", "span", "out_dir")}
                     for op in p["ops"]]}
            for p in [cold, *warm]
        ],
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if r.traced:
        layers = trace_layers(r, cold, warm, setup_phases,
                              (res_setup, res_cold, res_warm), warm_s)
        # JVM VmHWM depends on when the collector runs: ten runs of one
        # workload spread by 20-45%, too wide for an end-to-end bound
        layers["metrics"]["peak_rss_mb"] = {"value": rss_mb, "unit": "MiB"}
        result["per_layer"] = layers
        metrics = layers["metrics"]
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        r.tracer.dump(
            os.path.join(WORK, "results",
                         f"{args.workload}_seed{args.seed}.spans.json"),
            {"workload": args.workload, "seed": args.seed,
             "overhead_s": layers["overhead_s"]},
        )
        result["self_s"] = r.tracer.self_times()
    result["phases_s"] = {"setup": r.setup_s, "cold": cold["wall_s"], **phases}
    result["metrics"] = metrics
    return result


UNITS = {
    "wall_s": "s", "build_s": "s", "execute_s": "s", "driver_s": "s",
    "driver_frac": "ratio", "jobs": "count", "stages": "count",
    "tasks": "count", "run_s": "s", "cpu_s": "s", "gc_s": "s",
    "input_bytes": "B", "output_bytes": "B", "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B", "spill_bytes": "B", "busy_frac": "ratio",
    "cpu_frac": "ratio", "shuffle_per_input": "ratio",
    "process.overlap": "ratio",
}
QUERY_KEYS = ("build_s", "execute_s", "driver_s", "driver_frac")
EXECUTOR_KEYS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "input_bytes",
    "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "busy_frac", "cpu_frac", "shuffle_per_input",
)
PROCESS_KEYS = tuple(f"process.{s}_s" for s in PROCESS_STAGES) + ("process.overlap",)


def trace_layers(r: Run, cold, warm, setup_phases, resident, warm_plain_s) -> dict:
    """Per-layer metrics: per pass kind (cold, warm = median over the
    traced warm passes) and per operation, plus the tracing overhead."""
    traced_warm = [p for p in warm if p["traced"]]
    by_pass = {
        "cold": _pass_layers(cold["ops"], r.cpus),
    }
    warm_layers = [_pass_layers(p["ops"], r.cpus) for p in traced_warm]
    by_pass["warm"] = {
        k: _median([m[k] for m in warm_layers]) for k in warm_layers[0]
    }
    per_op: dict[str, dict] = {}
    for p in [cold, *traced_warm]:
        for op in p["ops"]:
            m = _ratios({k: op.get(k, 0) for k in ADDITIVE}, r.cpus)
            per_op.setdefault(op["op"], {}).setdefault(p["kind"], []).append(m)
    per_op = {
        name: {
            kind: {k: _median([m[k] for m in ms]) for k in ms[0]}
            for kind, ms in kinds.items()
        }
        for name, kinds in per_op.items()
    }
    res_setup, res_cold, res_warm = resident
    traced_warm_s = _median([p["wall_s"] for p in traced_warm])
    overhead = traced_warm_s - warm_plain_s
    metrics: dict[str, dict] = {}

    def put(name, value, unit):
        metrics[name] = {"value": value, "unit": unit}

    for k, v in setup_phases.items():
        put(k, v, "s")
    for kind in ("cold", "warm"):
        m = by_pass[kind]
        for k in QUERY_KEYS:
            put(f"{kind}.queries.{k}", m[k], UNITS[k])
        for k in EXECUTOR_KEYS:
            put(f"{kind}.executor.{k}", m[k], UNITS[k])
        for k in PROCESS_KEYS:
            put(f"{kind}.{k}", m[k], UNITS.get(k, "s"))
    put("resident.cold_new_entries", res_cold["entries"] - res_setup["entries"], "count")
    put("resident.warm_new_entries", res_warm["entries"] - res_cold["entries"], "count")
    put("resident.entries", res_warm["entries"], "count")
    put("resident.state_disk_bytes", res_warm["state_disk_bytes"], "B")
    put("resident.storage_mem_bytes", res_warm["storage_mem_bytes"], "B")
    put("resident.storage_disk_bytes", res_warm["storage_disk_bytes"], "B")
    put("trace.warm_s", traced_warm_s, "s")
    put("trace.overhead_s", overhead, "s")
    return {
        "metrics": metrics, "by_pass": by_pass, "per_op": per_op,
        "overhead_s": overhead,
        "resident": {"setup": res_setup, "cold": res_cold, "warm": res_warm},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ffiec_pq_spark", "__init__.py")):
        print(f"perfbench: no ffiec_pq_spark package under {ROOT}", file=sys.stderr)
        return 2
    # every file Spark, the JVM, the engine or the generators write stays
    # in the checkout: shuffle/block storage, JVM and Python temp files
    # (native libraries unpacked by the codecs included), generated
    # inputs.  -XX:-UsePerfData stops the JVMs writing /tmp/hsperfdata.
    tmp = os.path.join(WORK, f"run-{os.getpid()}", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, f"run-{os.getpid()}", "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                      f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )
    import tempfile

    tempfile.tempdir = None
    result = run_workload(args)
    print("perfbench: " + json.dumps(
        {"workload": result["workload"], "seed": result["seed"],
         "env": result["env"], "inputs": result["inputs"],
         "fail_frac": result["fail_frac"]}
    ))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
