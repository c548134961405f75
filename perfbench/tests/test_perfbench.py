"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The in-process tests start one Spark session; the traced-run tests run the
benchmark in fresh processes, twice per workload (a few minutes).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_corpus  # noqa: E402
import gen_operators  # noqa: E402
import gen_project  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import wl_index  # noqa: E402
import wl_project  # noqa: E402
from registry_queries import RegistryQueries, oracle_digests  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_generators_are_byte_identical_for_a_seed(tmp_path):
    tables = str(tmp_path / "tables")  # the project records its sources' paths
    for d, seed in (("a", 7), ("b", 7), ("c", 8)):
        sizes = gen_operators.write(str(tmp_path / d / "sf"), 0.001, seed)
        gen_project.write(str(tmp_path / d), tables, 18, 12, seed)
        gen_corpus.write(str(tmp_path / d / "corpus.parquet"), 300, seed)
    assert sizes["rows"]["documents"] == 500 and sizes["rows"]["lineitem"] == 6000
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    for f in ("sf/orders.parquet", "sf/documents.parquet", "sf/embeddings.parquet",
              "corpus.parquet", "requests.json"):
        assert not filecmp.cmp(tmp_path / "a" / f, tmp_path / "c" / f, shallow=False), f


def test_layer_table_assigns_jobs_to_the_innermost_span(monkeypatch):
    clock = iter(range(100))
    monkeypatch.setattr(tracing.time, "perf_counter", lambda: float(next(clock)))
    # job counter at: outer open, inner open/close, inner open/close, outer close
    counter = iter([0, 1, 3, 3, 4, 6])
    tr = tracing.Tracer(lambda: next(counter))
    tr.pass_no = 0
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    monkeypatch.undo()
    jobs = {j: {"stages": 1, "tasks": 2, "bytes_written": 10, "shuffle_write_bytes": 0}
            for j in range(6)}
    table = tracing.layer_table(tr, jobs)
    assert table[0]["inner"]["calls"] == 2 and table[0]["inner"]["jobs"] == 3
    assert table[0]["outer"]["jobs"] == 3 and table[0]["outer"]["tasks"] == 6
    assert table[0]["outer"]["self_s"] == 5.0 - 2.0


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("session"))
    harness.configure_env(work)
    sys.path.insert(0, ROOT)
    from dbt_osmosis_spark.operators import load_all

    session = harness.start_session(work)
    load_all()
    yield session
    harness.stop_session(session)


def test_dropped_request_row_is_a_failed_operation(spark, tmp_path, monkeypatch):
    from dbt_osmosis_spark import serving

    wl = wl_project.Workload(wl_project.prepare(str(tmp_path / "inputs"), 3))
    wl.register(spark)
    clean = wl.run_pass(spark, str(tmp_path / "p0"), tracing.NullTracer())
    assert clean["failed"] == 0 and clean["attempted"] > len(wl.requests)

    query = serving.SqlSession.query

    def drop_one(self, sql):
        df = query(self, sql)
        return df if df is None else df.exceptAll(df.limit(1))

    monkeypatch.setattr(serving.SqlSession, "query", drop_one)
    out = wl.run_pass(spark, str(tmp_path / "p1"), tracing.NullTracer())
    assert out["failed"] == sum(r["kind"] == "query" for r in wl.requests) > 0


def test_dropped_serve_row_is_a_failed_operation(spark, tmp_path, monkeypatch):
    from dbt_osmosis_spark.operators import retrieval_ext

    wl = wl_index.Workload(wl_index.prepare(str(tmp_path / "inputs"), 3))
    wl.register(spark)
    serve = retrieval_ext.query_segmented_postings

    def drop_pinned(spark_, path, terms, k=5, mgen=None):
        df = serve(spark_, path, terms, k=k, mgen=mgen)
        return df if mgen is None else df.exceptAll(df.limit(1))

    monkeypatch.setattr(retrieval_ext, "query_segmented_postings", drop_pinned)
    out = wl.run_pass(spark, str(tmp_path / "p0"), tracing.NullTracer())
    assert out["failed"] == 1


def test_dropped_registry_row_is_a_failed_operation(spark, tmp_path, monkeypatch):
    from dbt_osmosis_spark import operators

    sf_dir = str(tmp_path / "sf")
    gen_operators.write(sf_dir, 0.001, 3)
    suite = RegistryQueries(sf_dir, oracle_digests(sf_dir))
    assert suite.run_pass(spark, tracing.NullTracer()) == (7, 0)

    query = operators.QUERIES["d01_dedup_exact"]

    def drop_one(spark_, sf_dir_):
        df = query(spark_, sf_dir_)
        return df.exceptAll(df.limit(1))

    monkeypatch.setitem(operators.QUERIES, "d01_dedup_exact", drop_one)
    assert suite.run_pass(spark, tracing.NullTracer()) == (7, 1)


def _bench(workload: str, cwd: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_run_emits_every_per_layer_metric_and_repeats_counts(workload):
    results = []
    for _ in range(2):
        proc = _bench(workload, ROOT, 1)
        assert proc.returncode == 0, proc.stderr[-3000:]
        results.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    first, second = results
    assert first["correct"] and first["failed"] == 0
    assert set(first["metrics"]) == {m["name"] for m in run.SPEC["per_layer"]}
    own = ("runner.jobs", "operators.s32_prf_expansion_jobs") if workload == "project_session" \
        else ("retrieval_ext.serve_jobs",)
    assert all(first["metrics"][m]["value"] > 0 for m in own)
    counts = [m["name"] for m in run.SPEC["per_layer"]
              if m["name"].endswith(("jobs", "exchanges", "_calls", ".calls"))]
    for name in counts:
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name


def test_run_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _bench("project_session", str(tmp_path), 0)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
