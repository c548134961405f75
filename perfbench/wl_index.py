"""``index_lifecycle``: writes beside reads on one segmented lexical index.

One pass builds a fresh layout from the seeded Zipf corpus:

1. ingest the whole corpus as segment 0;
2. re-ingest revised versions of 1/17 of the documents as segment 1
   (the upsert-supersede path), serve;
3. checkpoint the manifest (generation g);
4. delete 1/11 of the documents, serve;
5. compact, serve; serve pinned to generation g;
6. checkpoint and vacuum.

Checks: the serve after compaction equals the one before it; the pinned
serve equals the serve taken when g was cut, despite the later delete and
compaction; every pass serves what the first pass served; and at the end
of the run the last serve equals a fresh single-segment build over the
live corpus. No project or serving code runs here.
"""

from __future__ import annotations

import os
import shutil

from harness import dir_bytes

N_DOCS = 250
REVISE_MOD = 17
DELETE_MOD, DELETE_REM = 11, 3
# nominal warm pass length on a 4-core host; turns --seconds into a
# fixed pass count
PASS_S = 11.0


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def prepare(inputs: str, seed: int) -> dict:
    """Generate the corpus, the query terms and the revision suffix, and
    count the text bytes ingested and left live by one pass."""
    import pyarrow.parquet as pq

    import gen_corpus

    corpus = os.path.join(inputs, "corpus.parquet")
    summary = gen_corpus.write(corpus, N_DOCS, seed)
    queries = gen_corpus.query_terms(seed)
    # revisions append one head and one tail query term, so they move
    # scores of the served documents
    suffix = f" {queries[0][1]} {queries[2][1]}"
    texts = pq.read_table(corpus, columns=["text"]).column("text").to_pylist()
    revised = {i: t + suffix for i, t in enumerate(texts) if i % REVISE_MOD == 0}
    live = {i: revised.get(i, t) for i, t in enumerate(texts) if i % DELETE_MOD != DELETE_REM}
    return {
        "corpus": corpus, "summary": summary, "queries": queries, "suffix": suffix,
        "ingested_bytes": sum(len(t) for t in texts) + sum(len(t) for t in revised.values()),
        "live_bytes": sum(len(t) for t in live.values()),
    }


class Workload:
    def __init__(self, prepared: dict):
        self.corpus = prepared["corpus"]
        self.summary = prepared["summary"]
        self.queries = prepared["queries"]
        self.suffix = prepared["suffix"]
        self.ingested_bytes = prepared["ingested_bytes"]
        self.live_bytes = prepared["live_bytes"]
        self.first_serves: list | None = None
        self.last_serve: list | None = None

    def sizes(self) -> dict:
        return {**self.summary, "query_terms": len(self.queries),
                "revised_docs": len(range(0, N_DOCS, REVISE_MOD)),
                "deleted_docs": sum(1 for i in range(N_DOCS) if i % DELETE_MOD == DELETE_REM)}

    def register(self, spark) -> None:
        from dbt_osmosis_spark.sources.parquet import read_parquet

        self.docs = read_parquet(spark, self.corpus)
        self.docs.createOrReplaceTempView("corpus")

    def trace_layers(self, tracer) -> None:
        from dbt_osmosis_spark.sources import parquet

        tracer.wrap(parquet, "read_layout", count="parquet.read_layout_calls")

    def _batches(self):
        from pyspark.sql import functions as F

        revised = self.docs.filter(F.col("doc_id") % REVISE_MOD == 0).withColumn(
            "text", F.concat("text", F.lit(self.suffix)))
        deleted = self.docs.filter(F.col("doc_id") % DELETE_MOD == DELETE_REM).select("doc_id")
        return revised, deleted

    def _serve(self, spark, path, tracer, latencies, mgen=None):
        import time

        from dbt_osmosis_spark.operators.retrieval_ext import query_segmented_postings

        t0 = time.perf_counter()
        with tracer.span("retrieval_ext.serve"):
            df = query_segmented_postings(spark, path, self.queries, mgen=mgen)
            rows = _rows(df)
        latencies.append((time.perf_counter() - t0) * 1e3)
        if tracer.enabled:
            from dbt_osmosis_spark.plans.audit import exchange_count

            tracer.count("retrieval_ext.serve_exchanges", exchange_count(df))
        return rows

    def run_pass(self, spark, pass_dir: str, tracer) -> dict:
        from dbt_osmosis_spark.operators.retrieval_ext import (
            checkpoint_manifest,
            compact_segments,
            delete_segmented,
            ingest_segment,
            vacuum_segments,
        )

        path = os.path.join(pass_dir, "layout")
        revised, deleted = self._batches()
        lat: list[float] = []
        with tracer.span("retrieval_ext.ingest"):
            ingest_segment(spark, self.docs, path, 0)
        with tracer.span("retrieval_ext.ingest"):
            ingest_segment(spark, revised, path, 1)
        s2 = self._serve(spark, path, tracer, lat)
        with tracer.span("retrieval_ext.checkpoint"):
            gen = checkpoint_manifest(path)
        with tracer.span("retrieval_ext.delete"):
            delete_segmented(spark, path, deleted, 0)
        s3 = self._serve(spark, path, tracer, lat)
        with tracer.span("retrieval_ext.compact"):
            compact_segments(spark, path)
        s4 = self._serve(spark, path, tracer, lat)
        pinned = self._serve(spark, path, tracer, lat, mgen=gen)
        with tracer.span("retrieval_ext.checkpoint"):
            checkpoint_manifest(path)
        with tracer.span("retrieval_ext.vacuum"):
            vacuum_segments(path)
        tracer.gauge("ingested_text_bytes", self.ingested_bytes)
        tracer.gauge("layout_bytes", dir_bytes(path))
        tracer.gauge("live_text_bytes", self.live_bytes)

        serves = [s2, s3, s4, pinned]
        if self.first_serves is None:
            self.first_serves = serves
        checks = [
            s3 == s4,  # compaction changes no result
            pinned == s2,  # the pinned generation ignores later mutations
            s2 != s3,  # the delete reached the serve
            serves == self.first_serves,  # every pass serves the same
            all(len(s) > 0 for s in serves),
        ]
        self.last_serve = s4
        return {"attempted": len(checks), "failed": checks.count(False), "op_ms": lat}

    def final_check(self, spark, work: str) -> tuple[int, int]:
        """A fresh single-segment build over the live corpus serves what
        the maintained index served at the end of the last pass."""
        from pyspark.sql import functions as F

        from dbt_osmosis_spark.operators.retrieval_ext import (
            ingest_segment,
            query_segmented_postings,
        )

        revised, deleted = self._batches()
        live = (
            self.docs.join(deleted, "doc_id", "left_anti")
            .join(revised.withColumnRenamed("text", "revised"), "doc_id", "left")
            .select("doc_id", F.coalesce("revised", "text").alias("text"))
        )
        path = os.path.join(work, "monolithic")
        ingest_segment(spark, live, path, 0, upsert=False)
        fresh = _rows(query_segmented_postings(spark, path, self.queries))
        shutil.rmtree(path, ignore_errors=True)
        return 1, int(fresh != self.last_serve)
