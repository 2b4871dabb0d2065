"""Workload definitions: fixed key lists over the sf0.1 fixtures.

Each workload is a list of registry keys (thrivespark.Registry). The seed
only permutes the order of the keys within a pass; the program sees the
fixtures and that order, nothing else. NOTES.md records why each workload
and key is here, and which keys were cut for time.
"""
import random

WORKLOADS = {
    # Thrive's own ETL surface: an as-of join through the repo's AsOfJoin
    # strategy, a parquet compaction through a content-addressed durable
    # stage, a 1.6k-column profile. Planning, codegen, scan and the write
    # path do the work; kernels and shared intermediates do almost none.
    "etl_relational": ["join_asof_native", "etl_compaction", "dq_profile_hll"],
    # Text, dedup and similarity operators: shared-intermediate builds, the
    # similarity-join rewrite, the custom Catalyst kernels and shuffle. The
    # cold/warm gap is mostly intermediate reuse.
    "llm_corpus": ["text_bpe_train", "dedup_near_minhash", "sim_join_rewrite"],
    # Streaming replay: every micro-batch is re-planned, and state-store,
    # WAL and checkpoint writes sit beside the reads. Little reuse between
    # passes.
    "stream_ingest": ["stream_tumbling", "stream_watermark_late", "stream_stream_join"],
}

# The kernel tier runs only in this workload's traced run.
KERNEL_WORKLOAD = "llm_corpus"


def order(workload, seed):
    """The key order of every pass for `seed`: a permutation that depends
    only on the workload name and the seed."""
    keys = list(WORKLOADS[workload])
    random.Random(f"{workload}:{seed}").shuffle(keys)
    return keys
