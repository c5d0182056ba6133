"""The repository benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload {import,query} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The program runs as users run it:
``wikidata2pg_spark.session.get_session()`` unchanged at ``local[nproc]``,
driven by this one client process in a closed loop (the next operation
starts when the previous one has finished). Inputs are generated from
``--seed`` and cached under ``.perfbench_work/inputs``; everything a run
writes (Spark local dirs, warehouse, temp files, the scratch Postgres when
the ``postgres`` user can reach it) stays under ``.perfbench_work``.

Workloads (see perfbench/README.md for sizes and the metric map):
  import  seeded Wikidata dump (.json.gz) -> scratch Postgres over COPY with
          ``__main__.run_import(..., pg_dsn=...)``, 5 default tables;
  query   in a fixed order, the nine headline analytics queries over seeded
          sf0.1 tables and two iterative (Python-loop) keys over seeded
          sf0.001 tables; each operation builds the DataFrame (the iterative
          keys' eager checkpoint jobs run here) and noop-materializes it.

Every operation's output is checked: import row counts against the counts
the dump generator derived; query keys once per run, before the timed
window, against their DuckDB oracle via ``wikidata2pg_spark.oracle.compare``.
That check pass doubles as warm-up.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` interleaves
untraced and traced cycles, records spans around this file's calls into
each layer, and prints the per-layer metrics plus the tracing overhead
(traced minus untraced). The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
diagnostics (host noise, failures, sizes, sample counts).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import types
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

IMPORT_ENTITIES = 2000
ANALYTICS_SF = 0.1
ITERATIVE_SF = 0.001
OP_TIMEOUT_S = 60.0
RUN_DEADLINE_S = 170
EMPTY_JOB_SAMPLES = 5

IMPORT_TABLES = ["wd_labels", "wd_claims", "wd_qualifiers", "wd_sitelinks", "wd_edges"]
QUERY_COUNTS = ["jobs", "build_jobs", "stages", "tasks"]
E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s", "cycle_s": "s"}
WINDOW_METRICS = ["op_p50_ms", "ops_per_s", "cycle_s"]


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit. A traced run reports all of
    them; a layer the workload does not exercise reads 0 (idle)."""
    from workloads import ANALYTICS_KEYS, ITERATIVE_KEYS

    units = {
        "process.peak_rss_mb": "MB",
        "session.build_s": "s",
        "spark.empty_job_ms": "ms",
        "flatten.parse_s": "s",
        "flatten.parse_tasks": "count",
        "flatten.lines_in": "count",
        "flatten.entities_out": "count",
        "flatten.bad_lines": "count",
    }
    for t in IMPORT_TABLES:
        units[f"flatten.table_s.{t}"] = "s"
        units[f"flatten.rows.{t}"] = "count"
    units.update({
        "pg_copy.export_s": "s",
        "pg_copy.copy_s": "s",
        "pg_copy.parts": "count",
        "pg_copy.csv_bytes_per_dump_byte": "ratio",
        "run_import.self_s": "s",
        "tables.load_cold_ms": "ms",
        "tables.load_warm_ms": "ms",
    })
    for k in ANALYTICS_KEYS + ITERATIVE_KEYS:
        units[f"query.build_ms.{k}"] = "ms"
        units[f"query.exec_ms.{k}"] = "ms"
        for c in QUERY_COUNTS + ["failed_tasks"]:
            units[f"query.{c}.{k}"] = "count"
    for m in WINDOW_METRICS:
        units[f"trace.overhead.{m}"] = E2E_UNITS[m]
    return units


# --------------------------------------------------------------------------
# measurement helpers


class RunDeadline(BaseException):
    """The whole run exceeded RUN_DEADLINE_S. A BaseException, so the
    per-operation ``except Exception`` handlers cannot swallow it."""


class OpTimeout(Exception):
    """One operation exceeded OP_TIMEOUT_S and its jobs were cancelled."""


class Tracer:
    """In-memory spans (name, start, end, parent, op) written out at exit.
    Spans of one operation share its ``op`` identifier."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str, op=None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (op is None or s.get("op") == op)
        )


class RssSampler:
    """Peak resident memory of the whole process tree — this interpreter
    (the PySpark driver: result collects, the iterative keys' Python loops),
    the Spark JVM, its Python workers, psql — sampled from /proc between
    ``start`` and ``stop``. A run starts it with the timed window, after the
    input generators and the DuckDB oracle checks (which are not the program
    under test) have run and their connections are closed."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        children = defaultdict(list)
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children[ppid].append(int(d))
        total, stack = 0, [os.getpid()]
        while stack:
            pid = stack.pop()
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
            stack.extend(children.get(pid, ()))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self._interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()


def host_noise() -> dict:
    """Steal jiffies and 1-minute loadavg; diffed around the timed window."""
    out = {"t": time.perf_counter()}
    try:
        with open("/proc/stat") as fh:
            out["steal_jiffies"] = int(fh.readline().split()[8])
        with open("/proc/loadavg") as fh:
            out["loadavg_1m"] = float(fh.read().split()[0])
    except (OSError, IndexError, ValueError):
        pass
    return out


def run_in_group(sc, group: str, fn, timeout_s: float = OP_TIMEOUT_S):
    """Run ``fn`` with its Spark jobs under job group ``group``; cancel the
    group and raise OpTimeout if it takes longer than ``timeout_s``."""
    sc.setJobGroup(group, group, interruptOnCancel=True)
    fired = threading.Event()

    def cancel() -> None:
        fired.set()
        sc.cancelJobGroup(group)

    timer = threading.Timer(timeout_s, cancel)
    timer.daemon = True
    timer.start()
    try:
        return fn()
    except Exception as e:
        if fired.is_set():
            raise OpTimeout(group) from e
        raise
    finally:
        timer.cancel()


def job_stats(sc, group: str) -> dict[str, int]:
    """Exact job/stage/task counts of one job group from the status
    tracker. ``stages`` counts stages that ran at least one task (skipped,
    reused stages excluded); ``first_stage_tasks`` is the task count of the
    group's earliest stage (the scan)."""
    tr = sc.statusTracker()
    jobs = tr.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tr.getJobInfo(j)
        if info:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0, "first_stage_tasks": 0}
    for s in sorted(stage_ids):
        info = tr.getStageInfo(s)
        if not info or info.numCompletedTasks + info.numFailedTasks == 0:
            continue
        if out["stages"] == 0:
            out["first_stage_tasks"] = info.numTasks
        out["stages"] += 1
        out["tasks"] += info.numCompletedTasks
        out["failed_tasks"] += info.numFailedTasks
    return out


def materialize(df) -> None:
    """Full execution of the plan with zero sink cost."""
    df.write.mode("overwrite").format("noop").save()


def empty_job_ms(sc) -> list[float]:
    """The scheduling floor: a one-task JVM job over no data (no Python
    worker, no SQL planning)."""
    jrdd = sc._jsc.parallelize(sc._jvm.java.util.ArrayList(), 1)
    out = []
    for i in range(EMPTY_JOB_SAMPLES):
        t0 = time.perf_counter()
        run_in_group(sc, f"empty-{i}", jrdd.count)
        out.append((time.perf_counter() - t0) * 1e3)
    return out


class TimedDuck:
    """DuckDB connection wrapper for ``oracle.compare``: runs each oracle
    query to completion and accumulates its wall time, so set-up time can
    exclude the oracle's share of the check pass."""

    def __init__(self, con) -> None:
        self.con = con
        self.seconds = 0.0

    def sql(self, query: str):
        t0 = time.perf_counter()
        rel = self.con.sql(query)
        rows = rel.fetchall()
        self.seconds += time.perf_counter() - t0
        return types.SimpleNamespace(columns=rel.columns, types=rel.types, fetchall=lambda: rows)


def summarize(ops: list[tuple[str, float, bool]], cycles: list[float]) -> dict[str, float]:
    """End-to-end timing metrics of one window: ops are (key, seconds, ok)."""
    lat = sorted(s for _, s, ok in ops if ok)
    if not lat or not cycles:
        return {}
    p90 = statistics.quantiles(lat, n=10, method="inclusive")[8] if len(lat) > 1 else lat[0]
    return {
        "op_p50_ms": statistics.median(lat) * 1e3,
        "op_p90_ms": p90 * 1e3,
        "ops_per_s": len(lat) / sum(cycles),
        "cycle_s": statistics.median(cycles),
    }


# --------------------------------------------------------------------------
# the run


class Run:
    """State of one benchmark run: session, counters, spans, diagnostics."""

    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.run_dir = run_dir
        self.t_start = time.perf_counter()
        self.spark = None
        self.tracer = Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        self.excluded_s = 0.0  # oracle time inside the check pass
        self.t_first_timed: float | None = None
        self.layer: dict[str, float] = {}
        self.windows: dict[str, dict] = {}
        self.diag: dict = {"workload": args.workload, "seed": args.seed}
        self.empty_ms: list[float] = []
        self.rss = RssSampler()

    # -- bookkeeping ------------------------------------------------------
    def mark(self, phase: str) -> None:
        """Seconds since start at which ``phase`` ended (diagnostics)."""
        self.diag.setdefault("phases", {})[phase] = round(time.perf_counter() - self.t_start, 2)

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    def start_session(self) -> None:
        from wikidata2pg_spark.session import get_session

        t0 = time.perf_counter()
        self.spark = get_session(f"perfbench-{self.args.workload}")
        self.layer["session.build_s"] = time.perf_counter() - t0
        self.mark("session")

    def stop_session(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.mark("stopped")

    def timed_window(self, cycle_fn) -> None:
        """Closed loop: whole cycles until --seconds have elapsed. With
        --trace 1, cycles alternate untraced/traced (at least one of each),
        so both modes are measured under the same conditions."""
        sc = self.spark.sparkContext
        self.empty_ms += empty_job_ms(sc)
        self.rss.start()
        before = host_noise()
        self.t_first_timed = time.perf_counter()
        self.mark("warmup")
        traced_modes = [False, True] if self.args.trace else [False]
        results = {m: ([], []) for m in traced_modes}
        n = 0
        while n < len(traced_modes) or time.perf_counter() - self.t_first_timed < self.args.seconds:
            traced = traced_modes[n % len(traced_modes)]
            ops, cycles = results[traced]
            c0 = time.perf_counter()
            ops.extend(cycle_fn(traced, n))
            cycles.append(time.perf_counter() - c0)
            n += 1
        after = host_noise()
        self.mark("window")
        self.empty_ms += empty_job_ms(sc)
        for traced, (ops, cycles) in results.items():
            name = "traced" if traced else "untraced"
            self.windows[name] = {**summarize(ops, cycles), "ops": len(ops), "cycles_s": cycles}
        elapsed = after["t"] - before["t"]
        self.diag["host_noise"] = {
            "empty_job_ms_before": statistics.median(self.empty_ms[:EMPTY_JOB_SAMPLES]),
            "empty_job_ms_after": statistics.median(self.empty_ms[EMPTY_JOB_SAMPLES:]),
            "loadavg_1m_before": before.get("loadavg_1m"),
            "loadavg_1m_after": after.get("loadavg_1m"),
            "steal_cores": (
                (after["steal_jiffies"] - before["steal_jiffies"])
                / os.sysconf("SC_CLK_TCK") / elapsed
                if "steal_jiffies" in after and elapsed > 0 else None
            ),
        }
        self.layer["spark.empty_job_ms"] = statistics.median(self.empty_ms)

    # -- query -----------------------------------------------------------
    def query_workload(self) -> None:
        from gen_tables import cached_tables
        from workloads import ANALYTICS_KEYS, ITERATIVE_KEYS, check, operations

        from wikidata2pg_spark.oracle import duck_connection

        dirs = {
            sf: cached_tables(os.path.join(WORK, "inputs"), self.args.seed, sf)
            for sf in (ANALYTICS_SF, ITERATIVE_SF)
        }
        self.mark("inputs")
        self.diag["sizes"] = {
            "analytics_sf": ANALYTICS_SF, "iterative_sf": ITERATIVE_SF,
            "tables_dirs": [os.path.relpath(d, ROOT) for d in dirs.values()],
        }
        self.start_session()
        sc = self.spark.sparkContext
        ops = {
            key: (fn, sql, dirs[sf])
            for keys, sf in ((ANALYTICS_KEYS, ANALYTICS_SF), (ITERATIVE_KEYS, ITERATIVE_SF))
            for key, (fn, sql) in operations(keys).items()
        }

        # correctness pass: every key once against its oracle (= warm-up)
        ducks = {d: TimedDuck(duck_connection(d)) for d in dirs.values()}
        check_s = self.diag["check_s"] = {}
        for key, (fn, sql, sf_dir) in ops.items():
            t0 = time.perf_counter()
            try:
                errs = run_in_group(
                    sc, f"check-{key}", lambda: check(key, fn(self.spark, sf_dir), ducks[sf_dir], sql)
                )
            except Exception as e:  # noqa: BLE001 - any failure is a failed op
                errs = [f"{key}: {type(e).__name__}: {e}"]
            self.record(not errs, "; ".join(errs)[:500])
            check_s[key] = round(time.perf_counter() - t0, 2)
        self.excluded_s += sum(d.seconds for d in ducks.values())
        for d in ducks.values():
            d.con.close()

        per_key: dict[str, list[dict]] = defaultdict(list)

        def cycle(traced: bool, n: int):
            out = []
            for key, (fn, _sql, sf_dir) in ops.items():
                group = f"op{n}-{key}"
                t0 = time.perf_counter()
                try:
                    if traced:
                        with self.tracer.span(key, op=group):
                            with self.tracer.span("build", op=group):
                                df = run_in_group(sc, f"b-{group}", lambda: fn(self.spark, sf_dir))
                            t1 = time.perf_counter()
                            with self.tracer.span("exec", op=group):
                                run_in_group(sc, f"x-{group}", lambda: materialize(df))
                    else:
                        run_in_group(sc, group, lambda: materialize(fn(self.spark, sf_dir)))
                    ok = self.record(True, "")
                except Exception as e:  # noqa: BLE001 - any failure is a failed op
                    ok = self.record(False, f"{key}: {type(e).__name__}: {e}"[:500])
                t2 = time.perf_counter()
                out.append((key, t2 - t0, ok))
                if traced and ok:
                    b, x = job_stats(sc, f"b-{group}"), job_stats(sc, f"x-{group}")
                    per_key[key].append({
                        "build_ms": (t1 - t0) * 1e3,
                        "exec_ms": (t2 - t1) * 1e3,
                        "jobs": b["jobs"] + x["jobs"],
                        "build_jobs": b["jobs"],
                        "stages": b["stages"] + x["stages"],
                        "tasks": b["tasks"] + x["tasks"],
                        "failed_tasks": b["failed_tasks"] + x["failed_tasks"],
                    })
            return out

        self.timed_window(cycle)
        if not self.args.trace:
            return
        for key, samples in per_key.items():
            for m in ("build_ms", "exec_ms"):
                self.layer[f"query.{m}.{key}"] = statistics.median(s[m] for s in samples)
            for c in QUERY_COUNTS:
                self.layer[f"query.{c}.{key}"] = samples[-1][c]
            self.layer[f"query.failed_tasks.{key}"] = sum(s["failed_tasks"] for s in samples)
        self.trace_tables_load(dirs[ANALYTICS_SF])

    def trace_tables_load(self, sf_dir: str) -> None:
        """Direct tables.load calls: fresh=True builds a new scan (cold);
        a repeated default call returns the session's cached plan (warm)."""
        from wikidata2pg_spark.tables import TABLE_NAMES, load

        cold, warm = [], []
        for name in TABLE_NAMES:
            with self.tracer.span("tables.load", table=name, fresh=True) as s:
                load(self.spark, sf_dir, name, fresh=True)
            cold.append(s["end"] - s["start"])
            load(self.spark, sf_dir, name)  # fills the cache if this run never loaded it
            with self.tracer.span("tables.load", table=name, fresh=False) as s:
                load(self.spark, sf_dir, name)
            warm.append(s["end"] - s["start"])
        self.layer["tables.load_cold_ms"] = statistics.median(cold) * 1e3
        self.layer["tables.load_warm_ms"] = statistics.median(warm) * 1e3

    # -- import ----------------------------------------------------------
    def import_workload(self) -> None:
        from gen_dump import cached_dump
        from pg import ScratchPostgres

        from wikidata2pg_spark.__main__ import DEFAULT_TABLES, run_import

        if DEFAULT_TABLES.split(",") != IMPORT_TABLES:
            raise SystemExit(f"default import tables changed: {DEFAULT_TABLES}")
        dump, expected = cached_dump(os.path.join(WORK, "inputs"), self.args.seed, IMPORT_ENTITIES)
        self.mark("inputs")
        want = {t: expected["tables"][t] for t in IMPORT_TABLES}
        self.diag["sizes"] = {
            "entities": IMPORT_ENTITIES,
            "dump_bytes": os.path.getsize(dump),
            "lines": expected["lines_in"],
            "rows": want,
        }
        self.start_session()
        sc = self.spark.sparkContext
        with ScratchPostgres(self.run_dir) as pg:
            csv_bytes: list[int] = []

            def one_import(group: str) -> bool:
                try:
                    got = run_in_group(sc, group, lambda: run_import(self.spark, dump, None, pg_dsn=pg.dsn))
                except Exception as e:  # noqa: BLE001
                    return self.record(False, f"import: {type(e).__name__}: {e}"[:500])
                return self.record(got == want, f"import counts {got} != expected {want}")

            one_import("import-cold")  # set-up: the first, cold import

            def cycle(traced: bool, n: int):
                group = f"import{n}"
                t0 = time.perf_counter()
                if traced:
                    with self.trace_pg_copy(group, csv_bytes), self.tracer.span("run_import", op=group):
                        ok = one_import(group)
                else:
                    ok = one_import(group)
                return [("import", time.perf_counter() - t0, ok)]

            self.timed_window(cycle)
        if self.args.trace:
            self.import_layers(csv_bytes, os.path.getsize(dump))
            self.trace_flatten(dump, expected)

    @contextlib.contextmanager
    def trace_pg_copy(self, op: str, csv_bytes: list[int]):
        """Wrap pg_copy's export, load and psql calls in spans for one
        traced import; run_import resolves them through the module."""
        from wikidata2pg_spark.sources import pg_copy

        orig = (pg_copy.export_csv, pg_copy.load_postgres_copy, pg_copy._run_psql)
        tracer = self.tracer
        nbytes = [0]

        def export_csv(df, out_dir):
            with tracer.span("pg_copy.export_csv", op=op):
                orig[0](df, out_dir)
            nbytes[0] += sum(
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out_dir) for f in fs
                if f.startswith("part-")
            )

        def load_postgres_copy(df, dsn, table, ddl, work_dir):
            with tracer.span("pg_copy.load_postgres_copy", op=op, table=table):
                return orig[1](df, dsn, table, ddl, work_dir)

        def run_psql(dsn, argv_tail, stdin):
            with tracer.span("pg_copy.psql", op=op):
                return orig[2](dsn, argv_tail, stdin)

        pg_copy.export_csv, pg_copy.load_postgres_copy, pg_copy._run_psql = (
            export_csv, load_postgres_copy, run_psql,
        )
        try:
            yield
        finally:
            pg_copy.export_csv, pg_copy.load_postgres_copy, pg_copy._run_psql = orig
            csv_bytes.append(nbytes[0])

    def import_layers(self, csv_bytes: list[int], dump_bytes: int) -> None:
        t = self.tracer
        ops = sorted({s["op"] for s in t.spans if s["name"] == "run_import"})
        export = [t.total("pg_copy.export_csv", o) for o in ops]
        load = [t.total("pg_copy.load_postgres_copy", o) for o in ops]
        whole = [t.total("run_import", o) for o in ops]
        parts = [sum(1 for s in t.spans if s["name"] == "pg_copy.psql" and s["op"] == o) for o in ops]
        self.layer["pg_copy.export_s"] = statistics.median(export)
        self.layer["pg_copy.copy_s"] = statistics.median(ld - ex for ld, ex in zip(load, export))
        self.layer["pg_copy.parts"] = statistics.median(parts)
        self.layer["pg_copy.csv_bytes_per_dump_byte"] = statistics.median(csv_bytes) / dump_bytes
        self.layer["run_import.self_s"] = statistics.median(w - ld for w, ld in zip(whole, load))

    def trace_flatten(self, dump: str, expected: dict) -> None:
        """The flatten layer on its own: the parse, then each default
        table's flattener over the persisted parse. Outside the timed
        window; its counts are checked against the generator's."""
        from pyspark.sql import functions as F

        from wikidata2pg_spark.__main__ import TABLE_BUILDERS
        from wikidata2pg_spark.wikidata import flatten

        sc = self.spark.sparkContext
        raw = self.spark.read.text(dump).withColumnRenamed("value", "line")
        parsed = flatten.latest_revisions(flatten.parse_entities(flatten.clean_dump_lines(raw)))
        with self.tracer.span("flatten.parse") as s:
            run_in_group(sc, "flatten-parse", lambda: materialize(parsed))
        self.layer["flatten.parse_s"] = s["end"] - s["start"]
        self.layer["flatten.parse_tasks"] = job_stats(sc, "flatten-parse")["first_stage_tasks"]
        parsed.persist()
        try:
            counts = {
                "lines_in": raw.count(),
                "entities_out": parsed.filter(F.col("e.id").isNotNull()).count(),
                "bad_lines": parsed.filter(F.col("e.id").isNull()).count(),
            }
            for k, v in counts.items():
                self.layer[f"flatten.{k}"] = v
                self.record(v == expected[k], f"flatten.{k} {v} != expected {expected[k]}")
            for table in IMPORT_TABLES:
                df = TABLE_BUILDERS[table](parsed)
                with self.tracer.span("flatten.table", table=table) as s:
                    run_in_group(sc, f"flatten-{table}", lambda: materialize(df))
                self.layer[f"flatten.table_s.{table}"] = s["end"] - s["start"]
                rows = df.count()
                self.layer[f"flatten.rows.{table}"] = rows
                want = expected["tables"][table]
                self.record(rows == want, f"flatten rows {table} {rows} != expected {want}")
        finally:
            parsed.unpersist()

    # -- result ----------------------------------------------------------
    def metrics(self) -> dict[str, dict]:
        if self.args.trace:
            units = per_layer_units()
            un, tr = self.windows.get("untraced", {}), self.windows.get("traced", {})
            for m in WINDOW_METRICS:
                if m in un and m in tr:
                    self.layer[f"trace.overhead.{m}"] = tr[m] - un[m]
            values = {name: self.layer.get(name, 0) for name in units}
        else:
            units = E2E_UNITS
            setup = self.t_first_timed - self.t_start - self.excluded_s
            window = self.windows.get("untraced", {})
            values = {m: window[m] for m in WINDOW_METRICS if m in window}
            values["setup_s"] = setup
        missing = [n for n in units if n not in values]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        return {n: {"value": values[n], "unit": u} for n, u in units.items()}


def _on_deadline(signum, frame):
    raise RunDeadline(f"run exceeded {RUN_DEADLINE_S} s")


def prepare_environment(run_dir: str) -> None:
    """Point every writer at the run directory and make the program
    importable by this process and by Spark's Python workers."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={os.environ['TMPDIR']}") if p
    )
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    os.chdir(run_dir)  # spark-warehouse/ and derby.log land here


def check_benchmark_json() -> None:
    """The metric names this file emits must be the ones BENCHMARK.json
    declares; drift would make every run unreadable."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared_e2e = {m["name"] for m in bench["end_to_end"]}
    declared_layer = {m["name"] for m in bench["per_layer"]}
    if declared_e2e != set(E2E_UNITS) or declared_layer != set(per_layer_units()):
        raise SystemExit("perfbench/run.py metric names differ from BENCHMARK.json")


def main() -> int:
    ap = argparse.ArgumentParser(description="Repository benchmark (see module docstring).")
    ap.add_argument("--workload", required=True, choices=["import", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "wikidata2pg_spark", "session.py")):
        print(f"no wikidata2pg_spark package under {ROOT}; run from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    check_benchmark_json()
    from pg import PostgresUnavailable

    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    os.chmod(run_dir, 0o755)  # the scratch Postgres runs as another user
    prepare_environment(run_dir)
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(RUN_DEADLINE_S)
    run = Run(args, run_dir)
    unavailable = None
    try:
        try:
            if args.workload == "import":
                run.import_workload()
            else:
                run.query_workload()
        except PostgresUnavailable as e:
            unavailable = str(e)
        finally:
            run.rss.stop()
            run.stop_session()
        signal.alarm(0)
        if unavailable:
            print(f"import workload unavailable: no runnable PostgreSQL ({unavailable})", file=sys.stderr)
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 1
        run.layer["process.peak_rss_mb"] = run.diag["peak_rss_mb"] = run.rss.peak / 2**20
        metrics = run.metrics()
    finally:
        signal.alarm(0)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = len(run.failures)
    run.diag.update({
        "failed_ops_ratio": failed / run.attempted if run.attempted else None,
        "failures": run.failures[:20],
        "windows": run.windows,
        "oracle_s_excluded_from_setup": run.excluded_s,
    })
    trace_dir = os.path.join(WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    trace_file = os.path.join(trace_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
    with open(trace_file, "w") as fh:
        json.dump({"diagnostics": run.diag, "layer": run.layer, "spans": run.tracer.spans}, fh)
    run.diag["trace_file"] = os.path.relpath(trace_file, ROOT)

    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"diagnostics": run.diag}))
    print(json.dumps({
        "correct": failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
