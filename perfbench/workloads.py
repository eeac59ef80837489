"""The benchmark's workloads: which registry keys each one runs, at
which scale, which ``bench.py`` lanes it warms, how many timed passes
it needs at least, and why it exists.

A run's query samples are ``min_passes`` times the key count. The pass
count is fixed per workload rather than left to how many passes fit in
``--seconds``, so every run of a workload takes the same samples and
costs about the same: one pass more or less would move the median (and
the printed tail) to another key.

Scale is a read-only fixture copied into ``perfbench/data`` (seed 42).
``etl_olap`` runs at sf0.1: at sf0.01 its keys cost per-job overhead
(in a traced pass the executors were busy 8% of the time and no job
was running for 63% of the wall time); at sf0.1 no job was running for
32% of a traced pass and task run time summed to 79% of its wall time
(``BASELINE.md``). Its keys are ones with small outputs, because the
output check of a 70,000-row result costs more than a timed pass of
the key. The operator keys of the other workloads cost about
the same at sf0.01 as at sf0.001, but their time is in set similarity,
Python workers, micro-batches and file writes rather than in scans,
so they run at sf0.01, which keeps a run short.

``etl_olap`` and ``ops_mix`` are the two workloads ``BENCHMARK.json``
gates on. One run pays about 15 s that no workload can avoid (JVM and
session start, the first compiled query, shutdown) plus a cold untimed
pass and the output check, and the benchmark's whole schedule of runs
has to fit a fixed time budget on a shared 4-core host;
two workloads with a few heavy keys each are what fits.
``ops_mix`` takes the cached-set-group and streaming keys of
``llm_dedup`` and ``ingest_write`` plus the cheap Python/Arrow and file
roundtrip keys, so that every layer is exercised by a gated workload.
The eager-job fixpoint keys cost 2-5 s each and live only in
``fixpoint_small``; it and the other two remain runnable on their own,
trimmed from their full families, for traced per-layer study.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    scale: str
    keys: tuple[str, ...]
    lanes: tuple[str, ...]
    min_passes: int
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl_olap",
            "sf0.1",
            (
                "q_agg_group", "q_join_sortmerge", "q_tpch_q1", "q_tpch_q18",
                "q_win_macd",
            ),
            ("relational",),
            4,
            "crypto-market ETL and TPC-H OLAP at sf0.1: executor scan, "
            "aggregate, join and window work, 2-5 jobs per key and none "
            "while the DataFrame is built",
        ),
        Workload(
            "ops_mix",
            "sf0.01",
            (
                "q_dedup_jaccard", "q_stream_tumbling", "q_udf_pandas_scalar",
                "q_udf_map_arrow", "q_udf_grouped_map", "q_udtf_arrow",
                "q_source_csv_roundtrip",
            ),
            ("relational", "python_arrow"),
            4,
            "engine operators beyond SQL: CPU-bound set similarity over "
            "cached set groups, Python/Arrow workers, streaming micro-batches "
            "and file sink/source roundtrips",
        ),
        Workload(
            "fixpoint_small",
            "sf0.01",
            (
                "q_graph_pagerank", "q_graph_components", "q_embed_kmeans",
                "q_quality_referential", "q_tokenize_bpe",
            ),
            ("relational", "python_arrow"),
            3,
            "iterative fixpoints: dozens of small jobs per key, most "
            "launched while the DataFrame is built, so driver scheduling "
            "dominates",
        ),
        Workload(
            "llm_dedup",
            "sf0.01",
            (
                "q_dedup_jaccard", "q_dedup_ngram", "q_text_tfidf",
                "q_udf_pandas_scalar", "q_embed_pca", "q_dedup_embedding_ann",
            ),
            ("relational", "python_arrow", "mllib"),
            2,
            "near-duplicate and text operators: executor CPU, MB-scale "
            "shuffles, the Python/Arrow boundary and cross-key reuse of "
            "cached set groups",
        ),
        Workload(
            "ingest_write",
            "sf0.01",
            (
                "q_stream_tumbling", "q_stream_anomaly", "q_stream_dedup",
                "q_stream_cdc_apply", "q_sink_compaction",
                "q_sink_partition_prune", "q_source_csv_roundtrip",
                "q_source_json_roundtrip",
            ),
            ("relational",),
            2,
            "the write side: streaming micro-batches with state-store and "
            "checkpoint commits, plus file sinks that write and compact "
            "real files",
        ),
    )
}
