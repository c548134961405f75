"""``project_session``: the dbt-osmosis user's dev loop plus a workbench
request mix over a seeded generated project, then the operator registry's
queries over the same tables.

One pass is a CLI dev loop (load, compile every model, materialize, data
tests, manifest + catalog artifacts, the YAML refactor pipeline and sync,
lint, column lineage of the marts), the seeded ``SqlSession`` request mix
replayed by one closed-loop client, and the ``registry_queries`` set. Each
pass works on a fresh copy of the generated project and a fresh warehouse.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from registry_queries import RegistryQueries, oracle_digests

SF = 0.001
N_MODELS = 18
N_REQUESTS = 12
# nominal warm pass length on a 4-core host; turns --seconds into a
# fixed pass count
PASS_S = 12.0


def _digest(root: str, suffix: str) -> str:
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            if f.endswith(suffix):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def prepare(inputs: str, seed: int) -> dict:
    """Generate the tables, the project and the request mix; compute the
    expected row count of every request, from DuckDB over the same parquet
    and the same compiled SQL, and the registry queries' oracle digests."""
    import duckdb

    import gen_operators
    import gen_project
    import gen_tpch
    from dbt_osmosis_spark.compile import JinjaCompiler, relation_name
    from dbt_osmosis_spark.project import load_project

    tpch = os.path.join(inputs, "tpch")
    tables = gen_operators.write(tpch, SF, seed)
    summary = gen_project.write(inputs, tpch, N_MODELS, N_REQUESTS, seed)
    template = os.path.join(inputs, "project")
    with open(os.path.join(inputs, "requests.json")) as fh:
        requests = json.load(fh)
    manifest = load_project(template)
    compiler = JinjaCompiler(manifest)
    con = duckdb.connect()
    columns = 0
    for t in gen_tpch.TABLES:
        path = os.path.join(tpch, f"{t}.parquet")
        con.execute(f"create view {relation_name('tpch.' + t)} as select * from read_parquet('{path}')")
        columns += len(con.execute(f"describe {relation_name('tpch.' + t)}").fetchall())
    for name in manifest.topo_sort():
        node = manifest.models[name]
        if node.materialized == "ephemeral":
            continue
        sql = compiler.compile(node.raw_sql, this=relation_name(name)).compiled_sql
        con.execute(f"create view {relation_name(name)} as {sql}")
        columns += len(con.execute(f"describe {relation_name(name)}").fetchall())
    expected: list[int | None] = []
    for req in requests:
        if req["kind"] in ("workbench", "query"):
            sql = compiler.compile(req["sql"]).compiled_sql
            (n,) = con.execute(f"select count(*) from ({sql})").fetchone()
            cap = gen_project.PREVIEW_ROWS if req["kind"] == "workbench" else n
            expected.append(min(n, cap))
        elif req["kind"] == "info_schema":
            expected.append(columns)
        else:
            expected.append(None)
    con.close()
    return {"tpch": tpch, "tables": gen_tpch.TABLES, "summary": {**summary, **tables},
            "template": template, "requests": requests, "expected": expected,
            "oracle": oracle_digests(tpch)}


class Workload:
    def __init__(self, prepared: dict):
        self.tpch = prepared["tpch"]
        self.tables = prepared["tables"]
        self.summary = prepared["summary"]
        self.template = prepared["template"]
        self.requests = prepared["requests"]
        self.expected = prepared["expected"]
        self.first_digests: tuple[str, str] | None = None
        self.registry = RegistryQueries(self.tpch, prepared["oracle"])

    def sizes(self) -> dict:
        return {"sf": SF, **self.summary}

    def register(self, spark) -> None:
        """Register the project's sources (set-up, before any pass)."""
        from dbt_osmosis_spark.compile import relation_name
        from dbt_osmosis_spark.sources.registry import read_source

        for t in self.tables:
            path = os.path.join(self.tpch, f"{t}.parquet")
            read_source(spark, path, "parquet").createOrReplaceTempView(relation_name(f"tpch.{t}"))

    def trace_layers(self, tracer) -> None:
        """Time/count the package calls that happen inside other layers."""
        from dbt_osmosis_spark import compile, introspect, lint, yaml_engine

        tracer.wrap(compile.JinjaCompiler, "compile", span="compile", count="compile.calls")
        tracer.wrap(lint, "lint_sql", span="lint")
        tracer.wrap(introspect, "get_columns", count="introspect.get_columns_calls")
        tracer.wrap(yaml_engine.YamlHandler, "write", count="yaml_engine.files_written")

    def run_pass(self, spark, pass_dir: str, tracer) -> dict:
        from dbt_osmosis_spark.artifacts import write_catalog_json, write_manifest_json
        from dbt_osmosis_spark.compile import JinjaCompiler, relation_name
        from dbt_osmosis_spark.datatests import run_project_tests
        from dbt_osmosis_spark.lineage import column_lineage
        from dbt_osmosis_spark.lint import lint_project
        from dbt_osmosis_spark.project import load_project
        from dbt_osmosis_spark.runner import materialize
        from dbt_osmosis_spark.serving import SqlSession, information_schema_columns
        from dbt_osmosis_spark.transforms import (
            YamlRefactorContext,
            inherit_upstream_column_knowledge,
            inject_missing_columns,
            load_docs_from_yaml,
            remove_columns_not_in_database,
            sort_columns_as_in_database,
            sync_to_yaml,
            synchronize_data_types,
        )

        proj = os.path.join(pass_dir, "project")
        wh = os.path.join(pass_dir, "warehouse")
        shutil.copytree(self.template, proj)
        attempted = failed = 0

        with tracer.span("project.load"):
            manifest = load_project(proj)
        compiler = JinjaCompiler(manifest)
        out_root = os.path.join(proj, "target", "compiled")
        for name in manifest.topo_sort():
            node = manifest.models[name]
            sql = compiler.compile(node.raw_sql, this=relation_name(name)).compiled_sql
            out = os.path.join(out_root, node.path)
            os.makedirs(os.path.dirname(out), exist_ok=True)
            with open(out, "w") as fh:
                fh.write(sql + "\n")
        with tracer.span("runner.materialize"):
            report = materialize(spark, manifest, warehouse_dir=wh)
        attempted += len(report.results)
        failed += sum(1 for r in report.results if r.status != "success")
        with tracer.span("datatests"):
            tests = run_project_tests(spark, YamlRefactorContext(
                spark=spark, manifest=manifest, project_dir=proj))
        attempted += len(tests)
        failed += sum(1 for r in tests if not r.passed)
        target = os.path.join(proj, "target")
        with tracer.span("artifacts.docs"):
            write_manifest_json(manifest, os.path.join(target, "manifest.json"), project_dir=proj)
            write_catalog_json(manifest, spark, os.path.join(target, "catalog.json"))
        with tracer.span("transforms.refactor"):
            ctx = YamlRefactorContext(spark=spark, manifest=manifest, project_dir=proj)
            load_docs_from_yaml(ctx)
            (
                inject_missing_columns
                >> remove_columns_not_in_database
                >> inherit_upstream_column_knowledge
                >> sort_columns_as_in_database
                >> synchronize_data_types
            )(ctx)
            sync_to_yaml(ctx)
        with tracer.span("lint"):
            lint_project(manifest)
        with tracer.span("lineage"):
            for mart in self.summary["marts"]:
                for col in spark.table(relation_name(mart)).columns:
                    column_lineage(spark, manifest, mart, col, warehouse_dir=wh)
        digests = (_digest(out_root, ".sql"), _digest(os.path.join(proj, "models"), ".yml"))
        if self.first_digests is None:
            self.first_digests = digests
        attempted += 2
        failed += sum(a != b for a, b in zip(digests, self.first_digests))

        session = SqlSession(spark, manifest)
        latencies = []
        for req, want in zip(self.requests, self.expected):
            kind = req["kind"]
            t0 = time.perf_counter()
            with tracer.span(f"serving.{kind}"):
                if kind == "workbench":
                    got = session.workbench(req["sql"])["rowcount"]
                elif kind == "query":
                    got = len(session.query(req["sql"]).collect())
                elif kind == "comment":
                    ok = session.query(req["sql"]) is None and session.comments.get(
                        (req["table"], req["column"])) == f"reviewed {req['column']}"
                    got = want if ok else -1
                else:
                    got = len(information_schema_columns(spark).collect())
            latencies.append((time.perf_counter() - t0) * 1e3)
            attempted += 1
            failed += got != want
        a, f = self.registry.run_pass(spark, tracer)
        return {
            "attempted": attempted + a,
            "failed": failed + f,
            "op_ms": latencies,
        }

    def final_check(self, spark, work: str) -> tuple[int, int]:
        return 0, 0
