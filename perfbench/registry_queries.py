"""The operator-registry part of the ``project_session`` pass: read-only
registered queries run through ``QUERIES`` over the same generated sf0.001
tables the project reads, each result collected.

The set is one ``bench.py`` headline query of each operator family the
oracle harness grades (relational aggregate, exact dedup, text scoring,
cosine similarity, an Arrow-batched UDF), as many as the run budget
allows, plus the two BM25 retrieval queries. None of them writes a
layout.

Checks: every result's normalized digest equals the digest of the query's
DuckDB oracle (``ORACLES``) over the same files, computed once per run
outside the passes, and every pass returns what the first pass returned.
"""

from __future__ import annotations

import hashlib
import math

QUERY_NAMES = (
    "q01_pricing_summary",
    "d01_dedup_exact",
    "t02_quality_score",
    "s01_cosine_topk",
    "m02_feature_extract",
    "s31_bm25_topk",
    "s32_prf_expansion",
)


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def result_digest(rows, columns: list[str]) -> str:
    """Order-insensitive digest of a result: columns sorted by name, cells
    stringified (floats by ``repr``, so only bit-identical values match),
    rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256(repr(([columns[i] for i in order], norm)).encode()).hexdigest()


def oracle_digests(sf_dir: str) -> dict[str, str]:
    """Digest of every query's DuckDB oracle over the tables in ``sf_dir``."""
    from dbt_osmosis_spark.operators import ORACLES, load_all
    from dbt_osmosis_spark.oracle import duckdb_connect

    load_all()
    con = duckdb_connect(sf_dir)
    out = {}
    for name in QUERY_NAMES:
        cur = con.execute(ORACLES[name])
        out[name] = result_digest(cur.fetchall(), [d[0] for d in cur.description])
    con.close()
    return out


class RegistryQueries:
    def __init__(self, sf_dir: str, oracle: dict[str, str]):
        self.sf_dir = sf_dir
        self.oracle = oracle
        self.first: dict[str, str] = {}

    def run_pass(self, spark, tracer) -> tuple[int, int]:
        """Run every query once; returns (attempted, failed)."""
        from dbt_osmosis_spark.operators import QUERIES

        failed = 0
        for name in QUERY_NAMES:
            with tracer.span(f"operators.{name}"):
                df = QUERIES[name](spark, self.sf_dir)
                rows = df.collect()
            if tracer.enabled:
                from dbt_osmosis_spark.plans.audit import exchange_count

                tracer.count(f"operators.{name}_exchanges", exchange_count(df))
            got = result_digest(rows, df.columns)
            self.first.setdefault(name, got)
            failed += got != self.oracle[name] or got != self.first[name]
        return len(QUERY_NAMES), failed
