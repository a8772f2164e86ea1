"""Workload definitions and seeded op sequences.

A workload is a list of registry query names plus a client count. An op
is one ``prepared(spark, sf_dir, name)`` call followed by a ``noop``-sink
write of the returned DataFrame. The seed fixes only the order of ops;
the program sees nothing but the registry inputs.

Why each workload exists, and which layer it stresses or bypasses, is
in ``README.md`` next to this file and in the ``why`` lines of
``BENCHMARK.json``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    #: registry query names, also the (fixed) order of the cold pass
    queries: tuple[str, ...]
    #: closed-loop clients; 0 means one client per core
    clients: int
    #: whole passes the timed window runs at least; sized so that they
    #: outlast ``run_seconds`` and a run never ends on a time boundary
    passes: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        # semantic-layer measures behind a dashboard refresh: pure
        # queries, so every warm op is a prepared-plan hit
        Workload(
            "dashboard",
            (
                "filtered_count",
                "filtered_distinct_count",
                "leading_group_top1",
                "argmax_with_ties",
                "mom_change",
                "yoy_change",
                "ytd_cumulative",
                "group_rank",
                "per_100k",
                "share_of_total",
                "cube_measures",
                "rollup_measures",
                "topk_orders",
                "avg_by_month",
                "month_rollup",
                "display_labels",
                "distinct_coverage",
                "segment_region_map",
                "aqi_category_days",
            ),
            clients=0,
            passes=4,
        ),
        # the weekly medallion run: 6 of the 8 queries rebuild on every
        # op, and 4 of those write a table and read it back
        Workload(
            "weekly_etl",
            (
                "ingest_rest_bronze",
                "silver_filter_dedup",
                "pipeline_dag_run",
                "sink_partitioned_roundtrip",
                "csv_header_cast_roundtrip",
                "orc_roundtrip",
                "jsonl_roundtrip",
                "merge_upsert",
            ),
            clients=1,
        ),
        # LLM-data curation and two-phase order statistics: serial
        # stage chains, build-time jobs and the Arrow mapInPandas hop
        Workload(
            "curation_batch",
            (
                "semantic_dedup",
                "dedup_clusters",
                "psi_value_drift",
                "image_decode_channel_stats",
            ),
            clients=1,
        ),
    )
}


class OpStream:
    """An endless, seeded sequence of query names, shared by a run's
    clients.

    Names are dealt in passes: a deck that holds every query of the
    workload once, reshuffled when empty, so each pick is uniform and
    every query runs equally often over whole passes."""

    def __init__(self, queries: tuple[str, ...], seed: int):
        self._queries = list(queries)
        self._rng = random.Random(seed)
        self._deck: list[str] = []

    def deck_left(self) -> int:
        return len(self._deck)

    def next(self) -> str:
        if not self._deck:
            self._deck = self._queries[:]
            self._rng.shuffle(self._deck)
        return self._deck.pop()

