"""The benchmark's workloads: which gates of ``__spark_entry__.queries()`` a
pass runs, and which traced layers must fire on them.

BENCHMARK.json and NOTES.md say why each workload was chosen and which
end-to-end metric each layer should move on which workload.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    gates: tuple[str, ...]
    # traced layers whose wrappers must fire at least once per traced pass
    fires: frozenset[str]


WORKLOADS: dict[str, Workload] = {
    "paper_dag": Workload(
        gates=("p5_doc_term_matrix", "p10_tfidf", "kmeans_fit"),
        fires=frozenset({"fit"}),
    ),
    "single_pass": Workload(
        gates=(
            "pricing_summary",
            "revenue_by_nation",
            "relational_suite",
            "asof_join",
            "quantized_topk",
            "ivf_topk",
            "dedup_minhash_lsh",
            "sketch_profile",
        ),
        fires=frozenset(),
    ),
    "stream_persist": Workload(
        gates=("stream_hourly", "stream_sessions", "stream_pairs", "ivf_topk_persisted"),
        fires=frozenset({"stream", "sink"}),
    ),
}
