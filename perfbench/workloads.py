"""Workload definitions: which items each workload runs, and why.

An item is either a catalog query (run through ``Query.fn`` from
``node_etl_spark.plans.QUERIES``) or an example spec (run through
``spec.from_spec(...).run``). Every item carries the function family
its per-layer metrics roll up into.

The lists are sized so one run (a fresh driver process, a cold pass
and the warm passes) fits the per-run time budget on a 4-core box at
sf0.1; the budget and the sizing probe are in README.md.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Item:
    id: str  # query short name ("q01") or example spec stem
    kind: str  # "query" | "spec"
    # graph, similarity-dedup, text, multimodal-web or relational
    family: str


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    items: tuple[Item, ...]
    # nominal seconds of one warm pass on the 4-core box; a run makes
    # round(--seconds / pass_s) warm passes, so its work is fixed
    pass_s: float


def _q(ids: str, family: str) -> list[Item]:
    return [Item(i, "query", family) for i in ids.split()]


def _s(ids: str, family: str) -> list[Item]:
    return [Item(i, "spec", family) for i in ids.split()]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "catalog-light",
            "short relational, window and join queries: the per-query "
            "driver floor (planning, codegen, scheduling), no graph "
            "loops, streaming or Python workers",
            tuple(
                _q("q01 q03 q06 q07 q08 q10 q28 q34 q40 q52 q57 q71",
                   "relational")
            ),
            pass_s=10.0,
        ),
        Workload(
            "catalog-iterative",
            "a graph operator that runs actions and persists every "
            "round, plus a streaming replay: iteration policy, caching, "
            "shuffle and the streaming drain",
            tuple(
                _q("q130", "graph") + _q("q189", "relational")
            ),
            pass_s=5.0,
        ),
        Workload(
            "catalog-pyworker",
            "decode and parse queries that cross into Python workers: "
            "Arrow batching, the worker and the codecs",
            tuple(
                _q("q297 q298 q312 q37 q147", "multimodal-web")
                + _q("q314", "multimodal-web")
                + _q("q303", "text")
            ),
            pass_s=5.0,
        ),
        Workload(
            "specs-etl",
            "example spec pipelines from spec JSON to real sinks "
            "(parquet, snapshot commit, NDJSON): lowering, sinks and "
            "first-run codegen",
            tuple(
                _s("dwh_quarterly private_release", "relational")
                + _s("api_enrichment", "multimodal-web")
                + _s("governed_corpus_store", "similarity-dedup")
            ),
            pass_s=6.5,
        ),
    )
}
