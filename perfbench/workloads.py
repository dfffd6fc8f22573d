"""The benchmark's workloads: which operators run, on which input tier.

Each workload is run as a user runs a batch job: build the operator's
frame, then write the result as Parquet. ``mult`` is the replica count of
the generated tier over the seeded sf0.01-sized base (see ``datagen``).

The operator lists are the subset of each family that fits the budget of
one benchmark run: two set-ups, one cold pass, four warm passes and
the output check in about a minute on an idle 4-core host. ``why`` says
which layer each workload stresses. An operator whose output misses its
oracle stays in its workload and is reported by name.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    mult: int
    ops: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational_export_10x",
            10,
            ("agg_hash_groupby", "join_3way_topk", "hb_wal_replay_merge",
             "hb_export_import_cycle", "stream_foreach_batch_export"),
            "scan, shuffle, window sort and Parquet export (snapshot -> "
            "Parquet -> verify, streaming export) on a 10x tier, few jobs "
            "per op: scan, shuffle and write changes show here",
        ),
        Workload(
            "curation_sf001",
            1,
            ("llm_dedup_components", "agg_ks_test"),
            "driver barriers at sf0.01: the component-resolution loop (~30 "
            "jobs) and the rank-spine KS test; checkpoint and job-budget "
            "changes show here, and it barely scans",
        ),
    )
}
