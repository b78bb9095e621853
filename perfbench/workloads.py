"""The workloads: what one operation is, and which operations make a
pass. A ``query_mix`` pass runs every query once, in an order the seed
fixes; an ``etl_upsert`` pass runs BATCHES new batches.

``query_mix`` draws a fixed handful of queries from four query families
(relational/TPC-H, graph, LLM data ops, store-backed retrieval). A run has to fit set-up,
a cold pass and its warm passes into about a minute on a four-core host,
where the full families take 20-130 s per pass; perfbench/README.md gives
the reasons for each pick.
"""

from __future__ import annotations

import datetime as dt
import random

import datagen

#: family -> queries; the family shows in the per-family pass times
FAMILIES = {
    # fixed per-query cost: fixture loads, Catalyst, scheduling of tiny stages
    "relational": [
        "q01_pricing_summary",
        "q265_tpch_q6_revenue",
        "q281_tpch_q12_priority_shipping",
    ],
    # graph profile over the co-purchase edges, persisted via materialize_once
    "graph": [
        "q149_degree_distribution",
    ],
    # execution and the Python boundary: scalar and grouped-agg pandas UDFs
    "llm_dataops": [
        "q37_pandas_udf_tokens",
    ],
    # hybrid BM25 + embedding retrieval over the shared postings store,
    # built once per application (its build overlaps two legs in run_jobs)
    "stores": [
        "q385_hybrid_retrieval",
    ],
}
QUERIES = [q for qs in FAMILIES.values() for q in qs]
#: fixture tables each query scans: the work count behind records_per_s
READS = {
    "q01_pricing_summary": ["lineitem"],
    "q265_tpch_q6_revenue": ["lineitem"],
    "q281_tpch_q12_priority_shipping": ["orders", "lineitem"],
    "q149_degree_distribution": ["lineitem"],
    "q37_pandas_udf_tokens": ["documents"],
    "q385_hybrid_retrieval": ["documents", "embeddings"],  # via the postings store
}
FAMILY_OF = {q: f for f, qs in FAMILIES.items() for q in qs}

#: etl_upsert envelope: records per batch = PER_PAGE * PAGES, BATCHES per pass
PER_PAGE, PAGES, BATCHES = 50, 20, 2


class QueryWorkload:
    """``query_mix``: each operation is one query of QUERIES."""

    def __init__(self, seed: int):
        self._rng = random.Random(seed)

    def pass_ops(self, _pass_no: int) -> list[str]:
        ops = list(QUERIES)
        self._rng.shuffle(ops)
        return ops


class EtlWorkload:
    """``etl_upsert``: each operation is one ``pipeline.run_batch`` over
    the REST stub into one growing parquet target; a pass runs
    ``batches`` of them."""

    def __init__(self, seed: int, per_page: int = PER_PAGE, pages: int = PAGES,
                 batches: int = BATCHES):
        self.seed = seed
        self.per_page, self.pages, self.per_pass = per_page, pages, batches
        self.seen_keys: list[str] = []
        self.batches: list[tuple[str, list]] = []  # (ingestion ts, items)

    def pass_ops(self, pass_no: int) -> list[int]:
        return [pass_no * self.per_pass + j for j in range(self.per_pass)]

    def make_batch(self, index: int) -> tuple[dt.datetime, list[bytes]]:
        """Generate batch ``index``; returns its ingestion ts and wire pages."""
        items = datagen.pulse_batch(self.seed, index, self.per_page * self.pages,
                                    self.seen_keys)
        run_ts = dt.datetime(2024, 6, 1) + dt.timedelta(minutes=index)
        self.batches.append((run_ts.strftime("%Y-%m-%d %H:%M:%S.%f"), items))
        return run_ts, datagen.render_pages(items, self.per_page)
