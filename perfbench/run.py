#!/usr/bin/env python3
"""Seeded, oracle-checked benchmark of the engine's public surface.

Usage (from the repository root)::

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

One run generates the workload's tables from ``--seed`` (perfbench/datagen.py),
sets a vanilla SparkSession up (``setup_s`` runs from the start of run.py to the
session ready, engine imported and warm-up job done; input generation is
excluded), runs an untimed warm pass over every query of the workload, then
the timed closed loop (``Bench.timed_phase``): each client builds a query through
``__spark_entry__.queries()`` (the driver layer) and materialises every
output column into Spark's ``noop`` sink (the operator and function layers;
never ``count()``, which Catalyst prunes), or writes the prepared corpus
with ``sources.formats.export_shards``.  Results of the warm pass are then
checked against the DuckDB ``oracle_sql()`` of the same files.

With ``--trace 1`` the run continues after the untraced loop: it restarts
the session with Spark's event log on, repeats the warm pass and the loop,
runs the workload's coverage queries, materialises each raw input table,
and prints per-layer metrics from the spans and the event log, plus the
tracing overhead against the untraced loop.  The spans are written to the
work directory at exit.  The last line of stdout is the JSON result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse
import concurrent.futures
import glob
import importlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import traceback
from dataclasses import dataclass
from pathlib import Path

import checks
import tracing
from workloads import (
    EXPORT, EXPORT_SHARDS, MODULE_OF, MODULES, NPROC, ROWS_ONLY, SESSION_CONF, WORKLOADS,
)

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
# nominal seconds per query of one client: ``--seconds`` buys each client
# about seconds / QUERY_S queries, in whole rounds (at least one)
QUERY_S = 1.25
MB = 1e6


def warm_up_jobs(spark) -> None:
    """One small fixed, engine-independent job."""
    spark.range(1).collect()


@dataclass
class Record:
    name: str
    label: str
    build_s: float
    exec_s: float
    ok: bool


class Bench:
    def __init__(self, workload: str, work: Path, data_dir: Path, spans: tracing.Spans):
        self.wl = WORKLOADS[workload]
        self.work = work
        self.data_dir = str(data_dir)
        self.export_dir = str(work / "export")
        self.spans = spans
        self.spark = None
        self.builders: dict = {}
        self.export_shards = None

    # -- session -----------------------------------------------------------
    def setup(self, event_log: bool = False) -> dict:
        if self.spark is not None:
            self.spark.stop()
        root = self.spans.open("setup")
        t0 = time.perf_counter()
        from pyspark.sql import SparkSession

        builder = SparkSession.builder
        for k, v in session_conf(self.work, event_log).items():
            builder = builder.config(k, v)
        self.spark = builder.getOrCreate()
        t1 = time.perf_counter()
        entry = importlib.import_module("__spark_entry__")
        self.builders = dict(entry.queries())
        self.oracle_sql = entry.oracle_sql
        formats = importlib.import_module("dataframeutils_spark.sources.formats")
        pipeline = importlib.import_module("dataframeutils_spark.operators.pipeline")
        self.export_shards = formats.export_shards
        self.builders[EXPORT] = lambda spark, d: pipeline.prepare_corpus(
            spark.read.parquet(f"{d}/documents.parquet"))
        t2 = time.perf_counter()
        warm_up_jobs(self.spark)
        t3 = time.perf_counter()
        self.spans.close(root)
        return {"start_s": t1 - t0, "import_s": t2 - t1, "warm_s": t3 - t2, "total_s": t3 - t0}

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
                proc.wait(timeout=60)

    # -- one query -----------------------------------------------------------
    def execute(self, name: str, label: str, collect: bool):
        """Build (driver layer) then materialise every output column."""
        sc = self.spark.sparkContext
        root = self.spans.open("query", query=label)
        b = self.spans.open("driver.build", root, label)
        sc.setJobDescription(f"{label}:build")
        t0 = time.perf_counter()
        try:
            df = self.builders[name](self.spark, self.data_dir)
            t1 = time.perf_counter()
            self.spans.close(b)
            m = self.spans.open("sources.export" if name == EXPORT else "materialise", root, label)
            sc.setJobDescription(f"{label}:exec")
            result = None
            if name == EXPORT:
                self.export_shards(df, self.export_dir, n_shards=EXPORT_SHARDS)
            elif collect:
                result = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            self.spans.close(m)
        finally:
            sc.setJobDescription(None)
            self.spans.close(root)
        return df, result, t1 - t0, t2 - t1

    # -- phases ----------------------------------------------------------------
    def warm_pass(self, tag: str, queries) -> tuple[dict, float]:
        """Every query once, ``NPROC`` at a time; results kept for the checks."""
        def one(name):
            df, result, _, _ = self.execute(name, f"{tag}/{name}", collect=True)
            known = manifest_tables(self.data_dir)
            tables = sorted({Path(f).stem for f in df.inputFiles()} & known.keys())
            return {"result": result, "columns": df.columns, "tables": tables}

        t0 = time.perf_counter()
        out = {}
        with concurrent.futures.ThreadPoolExecutor(max_workers=NPROC) as pool:
            futs = {name: pool.submit(one, name) for name in queries}
            for name, fut in futs.items():
                try:
                    out[name] = fut.result()
                except Exception as exc:
                    traceback.print_exc()
                    out[name] = {"error": f"{type(exc).__name__}: {exc}"}
        return out, time.perf_counter() - t0

    def timed_phase(self, seconds: float, tag: str, queries) -> tuple[list[Record], float]:
        """Closed loop: client ``c`` runs ``rounds`` blocks of ``n/clients``
        queries, walking the workload's fixed order from offset
        ``c*n/clients``; one round of the clients' blocks covers every query
        once.  ``rounds`` comes from ``seconds``, ``QUERY_S`` and the block
        length, so each run times the same fixed work, with the same queries
        running side by side, whatever the seed and speed."""
        n, clients = len(queries), self.wl.clients
        block = -(-n // clients)
        rounds = max(1, round(seconds / (QUERY_S * block)))
        records: list[Record] = []
        lock = threading.Lock()

        def client(c: int) -> None:
            for k in range(rounds * block):
                name = queries[(c * n // clients + k) % n]
                label = f"{tag}/{c}/{k}/{name}"
                try:
                    _, _, b, e = self.execute(name, label, collect=False)
                    rec = Record(name, label, b, e, True)
                except Exception:
                    traceback.print_exc()
                    rec = Record(name, label, 0.0, 0.0, False)
                with lock:
                    records.append(rec)

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return records, time.perf_counter() - t0

    def scan_inputs(self, tables: list[str]) -> float:
        """Materialise every column of each raw input table."""
        sc = self.spark.sparkContext
        total = 0.0
        for t in tables:
            s = self.spans.open("sources.scan", query=f"scan/{t}")
            sc.setJobDescription(f"scan/{t}:exec")
            t0 = time.perf_counter()
            self.spark.read.parquet(f"{self.data_dir}/{t}.parquet").write.format("noop").mode(
                "overwrite").save()
            total += time.perf_counter() - t0
            sc.setJobDescription(None)
            self.spans.close(s)
        return total

    # -- correctness -------------------------------------------------------------
    def check(self, warm: dict, again: list[dict]) -> list[tuple[str, str]]:
        """(query, reason) for every failed check; ``again`` holds the results
        of later warm passes, whose rows-only digests must repeat."""
        oracles = self.oracle_sql()
        failures = []
        con = checks.connect(self.data_dir, sorted(manifest_tables(self.data_dir)))
        try:
            for name, w in warm.items():
                if "error" in w:
                    failures.append((name, w["error"]))
                elif name == EXPORT:
                    err = checks.check_export(con, self.export_dir, oracles["pipeline_prepare"],
                                              oracles["shard_manifest"])
                    if err:
                        failures.append((name, err))
                elif name in ROWS_ONLY:
                    passes = [w] + [p[name] for p in again if "result" in p.get(name, {})]
                    digests = [checks.digest(p["result"]) for p in passes]
                    err = checks.check_rows_only(w["result"], w["columns"], digests)
                    if err:
                        failures.append((name, err))
                elif name not in oracles:
                    failures.append((name, "no oracle_sql() entry"))
                else:
                    err = checks.check_oracle(con, w["result"], oracles[name])
                    if err:
                        failures.append((name, err))
        finally:
            con.close()
        return failures


def session_conf(work: Path, event_log: bool) -> dict:
    conf = dict(SESSION_CONF)
    conf["spark.local.dir"] = str(work / "spark-local")
    conf["spark.sql.warehouse.dir"] = str(work / "warehouse")
    conf["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    conf["spark.eventLog.enabled"] = "true" if event_log else "false"
    if event_log:
        conf["spark.eventLog.dir"] = (work / "eventlog").as_uri()
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


def manifest_tables(data_dir: str) -> dict:
    with open(os.path.join(data_dir, "manifest.json")) as fh:
        return json.load(fh)


# -- metrics ---------------------------------------------------------------------
def tail(lat: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten samples
    beyond it; the maximum when there are fewer than twenty samples."""
    lat = sorted(lat)
    n = len(lat)
    if n < 20:
        return 100.0, lat[-1]
    return 100.0 * (n - 10) / n, lat[n - 11]


def end_to_end(records: list[Record], wall: float, setup_s: float, rows_of: dict) -> tuple[dict, str]:
    ok = [r for r in records if r.ok]
    lat = [r.build_s + r.exec_s for r in ok]
    pct, tail_v = tail(lat)
    rows = sum(rows_of.get(r.name, 0) for r in ok)
    metrics = {
        "setup_s": (setup_s, "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_tail_s": (tail_v, "s"),
        "queries_per_s": (len(ok) / wall, "1/s"),
        "rows_per_s": (rows / wall, "rows/s"),
        "driver_rss_peak_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, "MB"),
    }
    note = f"n={len(lat)} tail=p{pct:.0f} wall={wall:.2f}s"
    return metrics, note


def layer_metrics(bench: Bench, traced: list[Record], cover: list[Record], untraced: list[Record],
                  log: tracing.EventLog, setup: dict, warm_pass_s: float, scan_s: float,
                  tables: list[str]) -> dict:
    ok = [r for r in traced if r.ok]
    n = max(len(ok), 1)
    manifest = manifest_tables(bench.data_dir)
    m = {
        "session.start_s": (setup["start_s"], "s"),
        "session.import_s": (setup["import_s"], "s"),
        "session.warm_s": (setup["warm_s"], "s"),
        "session.warm_pass_s": (warm_pass_s, "s"),
        "sources.scan_s": (scan_s, "s"),
        "sources.input_rows": (sum(manifest[t]["rows"] for t in tables), "rows"),
        "sources.input_mb": (sum(manifest[t]["bytes"] for t in tables) / MB, "MB"),
        "sources.export_s": (mean([r.exec_s for r in ok if r.name == EXPORT]), "s"),
        "sources.export_mb": (dir_bytes(bench.export_dir) / MB, "MB"),
    }
    build = [tracing.job_stats(log, f"{r.label}:build") for r in ok]
    execs = [tracing.job_stats(log, f"{r.label}:exec") for r in ok]
    total_build = sum(r.build_s for r in ok)
    m.update({
        "driver.build_s": (mean([r.build_s for r in ok]), "s"),
        "driver.build_share": (total_build / max(total_build + sum(r.exec_s for r in ok), 1e-9),
                               "ratio"),
        "driver.plan_s": (mean([max(0.0, r.build_s - b["wall_s"]) for r, b in zip(ok, build)]), "s"),
        "driver.gap_s": (mean([b["gap_s"] + e["gap_s"] for b, e in zip(build, execs)]), "s"),
        "driver.build_jobs": (mean([b["jobs"] for b in build]), "count"),
        "driver.eager_s": (mean([b["wall_s"] for b in build]), "s"),
    })
    for mod in MODULES:
        mine = [r for r in ok + cover if r.ok and MODULE_OF[r.name] == mod]
        m[f"{mod}.build_s"] = (mean([r.build_s for r in mine]), "s")
        m[f"{mod}.exec_s"] = (mean([r.exec_s for r in mine]), "s")
    labels = {f"{r.label}:{part}" for r in ok for part in ("build", "exec")}
    jobs = [j for j in log.jobs.values() if j["label"] in labels]
    tasks: dict = {}
    py: dict = {}
    for label in labels:
        for k, v in log.task_metrics.get(label, {}).items():
            tasks[k] = tasks.get(k, 0.0) + v
        for k, v in log.python.get(label, {}).items():
            py[k] = py.get(k, 0.0) + v
    m["operators.jobs"] = (len(jobs) / n, "count")
    m["operators.stages"] = (sum(len([s for s in j["stages"] if s in log.stages]) for j in jobs) / n,
                             "count")
    m["operators.tasks"] = (tasks.get("tasks", 0.0) / n, "count")
    for key in ("executor_run_s", "executor_cpu_s", "gc_s", "scheduler_delay_s", "fetch_wait_s"):
        m[f"operators.{key}"] = (tasks.get(key, 0.0) / n, "s")
    for key in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb", "result_mb"):
        m[f"operators.{key}"] = (tasks.get(key, 0.0) / n, "MB")
    m["operators.task_success_ratio"] = (tasks.get("ok", 0.0) / max(tasks.get("tasks", 0.0), 1.0),
                                         "ratio")
    for key in tracing.PYTHON_METRICS.values():
        unit = "s" if key.endswith("_s") else "MB" if key.endswith("_mb") else "rows"
        m[f"functions.{key}"] = (py.get(key, 0.0) / n, unit)
    p50_traced = statistics.median([r.build_s + r.exec_s for r in ok])
    p50_untraced = statistics.median([r.build_s + r.exec_s for r in untraced if r.ok])
    m["trace.overhead"] = (p50_traced / p50_untraced - 1.0, "ratio")
    return m


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(f))


# -- main ------------------------------------------------------------------------
def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare(workload: str, seed: int) -> tuple[Path, Path]:
    """Fresh work directory inside the checkout, environment for the JVM and
    Python workers, and the generated tables (in a child process, so the
    generator's memory does not count towards the driver's peak RSS)."""
    work = ROOT / ".perfbench_work" / f"{workload}-{seed}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog", "data"):
        (work / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers start from Spark's own path; without the checkout on
    # PYTHONPATH they cannot unpickle the engine's UDFs
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(BENCH_DIR), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(ROOT))
    data = work / "data"
    out = subprocess.run(
        [sys.executable, str(BENCH_DIR / "datagen.py"), str(data),
         json.dumps(WORKLOADS[workload].sizes), str(seed)],
        check=True, capture_output=True, text=True)
    (data / "manifest.json").write_text(out.stdout)
    return work, data


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no __spark_entry__.py in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    t_gen = time.perf_counter()
    work, data = prepare(args.workload, args.seed)
    gen_s = time.perf_counter() - t_gen
    spans = tracing.Spans()
    bench = Bench(args.workload, work, data, spans)
    wl = WORKLOADS[args.workload]
    failures: list[tuple[str, str]] = []
    phases = {"start": time.perf_counter()}
    try:
        setup = bench.setup()
        phases["setup"] = time.perf_counter()
        setup_s = phases["setup"] - T_START - gen_s
        warm, warm_pass_s = bench.warm_pass("warm", wl.queries)
        phases["warm"] = time.perf_counter()
        manifest = manifest_tables(str(data))
        tables = sorted({t for w in warm.values() for t in w.get("tables", [])})
        rows_of = {name: sum(manifest[t]["rows"] for t in w.get("tables", []))
                   for name, w in warm.items()}
        records, wall = bench.timed_phase(args.seconds, "timed", wl.queries)
        phases["timed"] = time.perf_counter()
        metrics, note = end_to_end(records, wall, setup_s, rows_of)
        timed = records
        if args.trace:
            bench.setup(event_log=True)
            warm2, _ = bench.warm_pass("warm2", wl.queries)
            traced, traced_wall = bench.timed_phase(args.seconds, "traced", wl.queries)
            # modules no timed query of this workload calls: one untimed and
            # one measured execution each, for the per-module metrics
            cover: list[Record] = []
            if wl.coverage:
                cover_warm, _ = bench.warm_pass("cover-warm", wl.coverage)
                cover, _ = bench.timed_phase(0, "cover", wl.coverage)
                warm.update(cover_warm)
            timed = records + traced + cover
            scan_s = bench.scan_inputs(tables)
            phases["traced"] = time.perf_counter()
        failures += [(r.name, "exception in timed phase") for r in timed if not r.ok]
        failures += bench.check(warm, [warm2] if args.trace else [])
        phases["check"] = time.perf_counter()
    finally:
        bench.stop()
    phases["stop"] = time.perf_counter()
    attempted = len(timed) + len(warm)
    if args.trace:
        log = tracing.parse_event_log(glob.glob(str(work / "eventlog" / "*"))[0])
        metrics = layer_metrics(bench, traced, cover, records, log, setup, warm_pass_s,
                                scan_s, tables)
        spans.dump(str(work / "spans.jsonl"))
        note += f"; traced n={len([r for r in traced if r.ok])} wall={traced_wall:.2f}s"

    for name, reason in failures:
        print(f"FAIL {name}: {reason}", file=sys.stderr)
    digests = {name: checks.digest(w["result"]) for name, w in warm.items()
               if w.get("result") is not None}
    marks = list(phases.items())
    print(f"# {args.workload} seed={args.seed} nproc={NPROC} {note}")
    print("# phases " + " ".join(f"{k}={t - p:.1f}s" for (_, p), (k, t) in zip(marks, marks[1:])))
    print(f"# setup {setup_s:.2f}s: before session {setup_s - setup['total_s']:.2f}s, "
          + " ".join(f"{k}={setup[k]:.2f}s" for k in ("start_s", "import_s", "warm_s")))
    per_query: dict = {}
    for r in records:
        per_query.setdefault(r.name, []).append(f"{r.build_s:.2f}+{r.exec_s:.2f}")
    print("# queries " + " ".join(f"{k}=[{','.join(v)}]" for k, v in per_query.items()))
    print(f"# digests {json.dumps(digests, sort_keys=True)}")
    print(f"# error_rate {len(failures) / max(attempted, 1):.4f} "
          f"({len(failures)} of {attempted})")
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6g} {unit}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
