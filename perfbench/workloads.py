"""Workload definitions: which public entry point one operation calls,
and on which inputs. Why each workload is in the benchmark is recorded
once, in BENCHMARK.json."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    #: Catalog entries; one operation runs one of them. A pass runs each
    #: once, in an order shuffled by the seed.
    ops: tuple[str, ...]
    #: Scale factor of the seeded fixture (query workloads) or of the
    #: ETL's generated volume (etl_batch: sf x 2,000,000 customers...).
    sf: float
    #: Call cache.release_caches() at the start of every pass.
    release_caches: bool = False
    #: Warm-up passes after the first (checked) pass: a fixed count,
    #: measured to reach steady CPU time per operation, so every run
    #: measures from the same state.
    warm_passes: int = 0
    #: Cache families: ops sharing one lazily built cache or memo. The
    #: first consumer after release_caches() pays the build.
    cache_families: dict[str, tuple[str, ...]] = field(default_factory=dict)


#: One read-path pass, one or two cheap queries per module: the
#: reference's reports and star joins (plans.analytics, .relational,
#: .subqueries, .advanced; operators.aggregates), Python/Arrow kernels
#: whose shared caches are released at each pass start (functions.*,
#: cache), the SCD and erasure operators and two streaming replays
#: (state store, table sink). Every run pays a 30-45s first pass of
#: bring-ups and two workloads must fit the run budget, so the dearer
#: queries of each module stay out (customer_rfm_segments,
#: corpus_curate_neardup, bpe_train_merges: 2-4s warm, 5-9s cold). So
#: does `sources`: both of its queries, the JSONL batch read and the
#: JSONL stream replay, pay a 9-11s Python data source bring-up in
#: every run.
CATALOG_MIX = (
    "top_products", "revenue_cube_nation_segment",
    "shipping_priority_orders", "revenue_by_nation",
    "kmeans_assign", "kmeans_cluster_purity", "ann_topk",
    "dedup_minhash_lsh", "term_frequencies", "corpus_health",
    "heavy_hitter_users", "media_decode_report",
    "scd2_customer_history", "user_erasure_audit",
    "streaming_user_totals_stateful", "streaming_totals_to_table",
)

WORKLOADS = {w.name: w for w in (
    Workload(
        name="etl_batch",
        ops=("etl_pipeline_run",),
        sf=0.005,
        # CPU per cycle, JIT compiler threads excluded, runs ~19s, then
        # 5.9s, and holds at 4-4.6s from the third cycle; the compiler's
        # own share keeps falling, from 6s to 1s, over twenty cycles.
        # Measurement starts at the sixth cycle.
        warm_passes=4,
    ),
    Workload(
        name="catalog_mix",
        ops=CATALOG_MIX,
        sf=0.005,
        release_caches=True,
        # The checked first pass pays every bring-up (JIT, Python
        # workers, streaming); measurement starts at
        # the second pass.
        warm_passes=0,
        cache_families={
            "kmeans": ("kmeans_assign", "kmeans_cluster_purity"),
            "vectors": ("ann_topk",),
        },
    ),
)}
