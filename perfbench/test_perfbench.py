"""Tests of the benchmark itself (the engine's own suite lives in tests/).

Run from the repository root::

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import collections
import re
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

BENCH_DIR = Path(__file__).resolve().parent
sys.path[:0] = [str(BENCH_DIR), str(BENCH_DIR.parent)]

import datagen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from workloads import EXPORT, WORKLOADS  # noqa: E402

SMALL = {
    "customer": 40, "supplier": 5, "part": 30, "orders": 200, "lineitem": 800,
    "days": 60, "events": 300, "users": 10, "events_expand": 3,
    "documents": 200, "embeddings": 50,
}


def _read(d: Path, table: str):
    return pq.read_table(d / f"{table}.parquet")


def test_datagen_same_seed_same_bytes_other_seed_other_content(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.generate(str(a), SMALL, 7)
    datagen.generate(str(b), SMALL, 7)
    datagen.generate(str(c), SMALL, 8)
    changed = set()
    for t in datagen.TABLES:
        assert (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes(), t
        assert _read(a, t).schema == _read(c, t).schema, t
        if not _read(a, t).equals(_read(c, t)):
            changed.add(t)
    assert {"customer", "orders", "lineitem", "events", "documents", "embeddings"} <= changed


def test_datagen_keys_timestamps_and_near_duplicates(tmp_path):
    datagen.generate(str(tmp_path), SMALL, 3)
    for table, key in (("orders", "o_orderkey"), ("customer", "c_custkey"),
                       ("events", "event_id"), ("documents", "doc_id"),
                       ("embeddings", "vec_id")):
        col = _read(tmp_path, table).column(key).to_pylist()
        assert len(col) == len(set(col)), table
    ev = _read(tmp_path, "events").to_pandas()
    for table, col in (("events", "ts"), ("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        schema = pq.ParquetFile(tmp_path / f"{table}.parquet").schema
        stored = schema.column(schema.names.index(col))
        assert stored.physical_type == "INT64", (table, col)
        assert "timeUnit=microseconds" in str(stored.logical_type), (table, col)
    assert len(ev) == SMALL["events"] * SMALL["events_expand"]
    assert ev.sort_values("event_id").ts.is_monotonic_increasing
    assert ev.user_id.max() < SMALL["users"] * SMALL["events_expand"]
    docs = _read(tmp_path, "documents").to_pandas()
    texts = set(docs.text)
    near = [t for t in docs.text if t.endswith(" dup")]
    assert near and all(t[: -len(" dup")] in texts for t in near)
    assert (docs.text.str.len() == docs.n_chars).all()


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert run.tail([3.0, 1.0, 2.0]) == (100.0, 3.0)
    pct, value = run.tail([float(i) for i in range(30)])
    assert value == 19.0 and round(pct, 1) == 66.7
    assert sum(1 for i in range(30) if i > value) == 10


def test_union_of_overlapping_intervals():
    assert tracing._union([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]) == 4.0
    assert tracing._union([]) == 0.0


# -- full-materialisation guard ------------------------------------------------
_TREE = re.compile(r"^[\s:|+\-]*")
_EXPR_ID = re.compile(r"#\d+")


def _plan_lines(text: str) -> collections.Counter:
    """Operator lines of a plan tree string, tree drawing stripped.  Expression
    ids are dropped: each optimizer run gives pulled-out grouping expressions
    fresh ones."""
    return collections.Counter(_EXPR_ID.sub("#", _TREE.sub("", line))
                               for line in text.splitlines() if line.strip())


def _optimized_section(description: str) -> str:
    part = description.split("== Optimized Logical Plan ==", 1)[1]
    return part.split("== Physical Plan ==", 1)[0]


def _executions(spark, description: str) -> list[str]:
    """Plan descriptions of the SQL executions run under a job description."""
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    out = []
    while it.hasNext():
        e = it.next()
        if e.description() == description:
            out.append(e.physicalPlanDescription())
    return out


def _kept(spark, df, description: str) -> bool:
    """Whether an action run under ``description`` kept every operator node
    and every output column of ``df``'s optimized plan."""
    want = _plan_lines(df._jdf.queryExecution().optimizedPlan().toString())
    for plan in _executions(spark, description):
        if "== Optimized Logical Plan ==" in plan:
            got = _plan_lines(_optimized_section(plan))
            if not want - got:
                return True
    return False


@pytest.fixture(scope="module")
def benches():
    """One Bench per workload on seed-0 inputs, sharing one session."""
    out = {}
    for name in WORKLOADS:
        work, data = run.prepare(name, 0)
        bench = run.Bench(name, work, data, tracing.Spans())
        bench.setup()  # the second workload gets the running session
        bench.spark.conf.set("spark.sql.ui.explainMode", "extended")
        out[name] = bench
    yield out
    next(iter(out.values())).stop()


@pytest.mark.parametrize("workload,query", [
    (w, q) for w, wl in WORKLOADS.items() for q in wl.queries + wl.coverage if q != EXPORT
])
def test_timed_action_keeps_every_column_and_operator(benches, workload, query):
    bench = benches[workload]
    label = f"guard/{workload}/{query}"
    df, _, _, _ = bench.execute(query, label, collect=False)
    assert _kept(bench.spark, df, f"{label}:exec")


def test_export_writes_every_column(benches):
    bench = benches["batch"]
    df, _, _, _ = bench.execute(EXPORT, "guard/export", collect=False)
    written = pq.ParquetDataset(bench.export_dir).schema.names
    assert set(df.columns) <= set(written)


def test_guard_detects_count_pruning(benches):
    """``count()`` keeps no output column: the guard must reject it."""
    bench = benches["interactive"]
    df = bench.builders["text_stats"](bench.spark, bench.data_dir)
    bench.spark.sparkContext.setJobDescription("guard/count")
    try:
        df.count()
    finally:
        bench.spark.sparkContext.setJobDescription(None)
    assert not _kept(bench.spark, df, "guard/count")
