"""The benchmark's workloads: which public calls each one makes, and why.

A query op is ``registry.all_queries()[name].fn(spark, sf_dir)`` followed
by a ``noop`` write of the result. An ``mr_jobs`` op is one whole
``engine.run_job`` call. The op lists are part of a workload's
definition: changing one makes its numbers incomparable with earlier runs.
"""

from __future__ import annotations

from dataclasses import dataclass

# Scale factor of the generated tables. Every op is sub-second to ~2 s at
# this size on 4 cores, so a pass fits the per-run time budget while each
# query still reads tens of thousands of rows.
TABLE_SF = 0.01

# mr_jobs input sizes: the corpus (about 10 MB) is 3 chunks of CHUNK_MB,
# one wave of mapper processes on 4 cores.
CHUNK_MB = 4
CORPUS_TOKENS = 1_572_864
SUSPECT_LINES = 120_000


@dataclass(frozen=True)
class Workload:
    name: str
    # Ops in groups. The seed permutes the groups; the ops inside a group
    # keep their order, so a session-cache family always runs as its cold
    # member followed by its riders and per-op latencies do not trade
    # places between family members from one seed to the next.
    groups: tuple[tuple[str, ...], ...]
    why: str
    # Untimed passes before the timed ones, the first of them cold (its
    # results are the ones checked). On the query workloads the JVM keeps
    # compiling hot code for several passes after the cold one, and those
    # passes are both the slowest and the most variable; run_job passes
    # level off after the cold one.
    warm_passes: int
    # Warm pass time on the 4-core reference machine; a run makes as many
    # timed passes as fill --seconds at this pace.
    nominal_pass_s: float
    # run_job ops instead of registry queries
    mapreduce: bool = False
    # drop session caches before every pass
    clear_per_pass: bool = False


# (input, mapper, reducer, mapper language) per run_job op; paths are
# relative to the repository's examples/ directory.
MR_OPS = {
    "wordcount_py": ("corpus", "wordcount_mapper.py", "wordcount_reducer.py", "py"),
    "wordcount_cpp": ("corpus", "wordcount_mapper.cpp", "wordcount_reducer.py", "cpp"),
    "suspects_py": ("sightings", "suspects_mapper.py", "suspects_reducer.py", "py"),
}

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "sql_mix",
            tuple((op,) for op in (
                "pricing_summary", "revenue_by_nation", "customers_without_urgent_orders",
                "top_orders_per_customer", "nation_revenue_share", "script_rich_threshold",
                "suspects_orders", "peak_concurrency_sweep", "word_count",
            )),
            "relational queries with no Python node: driver build, Catalyst "
            "planning, per-job scheduling and shuffle dominate",
            warm_passes=7,
            nominal_pass_s=2.9,
        ),
        Workload(
            "text_pipeline",
            (
                ("minhash_signatures", "source_overlap_minhash"),
                ("simhash", "simhash_band_pairs"),
                ("bpe_encode_indexed",),
                ("decode_audio_wav",),
            ),
            "LLM-data queries: Arrow/InPandas Python workers, session-cache "
            "families and reads of an index store the cold pass built",
            warm_passes=7,
            nominal_pass_s=2.5,
            clear_per_pass=True,
        ),
        Workload(
            "mr_jobs",
            tuple((op,) for op in MR_OPS),
            "run_job over line-chunked text: one mapper process per chunk, a "
            "single reducer, no Catalyst work and no shuffle",
            warm_passes=1,
            nominal_pass_s=5.0,
            mapreduce=True,
        ),
    )
}
