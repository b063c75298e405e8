"""The benchmark's workloads: which registered ops each one runs. Why each
workload exists is recorded in BENCHMARK.json; why each op is in its list
is noted beside it.

Every workload is a closed loop with one client: an op starts only after
the previous one finished. A pass runs each op of the list once: the
cold pass in the listed order, every warm pass in an order the run's
seed permutes anew.

Each list is a fixed slice of its family, sized so that a cold pass and
several warm passes fit in one run of the benchmark; the slices cover the
family's kinds of plan (named in the comments) rather than every query.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "queries": builder + noop write; "silver": runner writes
    ops: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "query_mix",
            "queries",
            (
                # plans/: the ad-hoc analytics surface, short floor-bound ops
                "agg_promo_revenue",  # star join
                "win_rank_family",  # windows
                # operators/: LSH signatures through the Arrow Python
                # boundary, then a bucketed candidate self-join
                "sim_ann_lsh_buckets",
                # streaming/: a drained stream with watermarked window state
                "stream_tumbling",
            ),
        ),
        Workload(
            "silver_pipeline",
            "silver",
            (
                "silver_od",  # partitioned fact table
                "silver_zones",  # unpartitioned dimension
                "silver_ine_renta",  # unpartitioned INE table
            ),
        ),
    )
}
