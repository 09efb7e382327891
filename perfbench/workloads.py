"""Which registered query belongs to which module and workload.

Every query maps to one module by its name prefix, and every module to one
workload, so the three workloads partition the registry. A newly registered
query whose prefix names no module makes `partition` fail loudly.

A run times a fixed subset of its workload (`TIMED`): a full pass over any
workload at sf0.01 takes 25-30 s warm and 45-55 s cold on 4 cores, more than
one run may spend. The rest of the workload is oracle-checked untimed, one
seed-chosen slice of `SWEEP_SLICES` per run, so every registered query is
checked by some run of the set.
"""
import random
import re

MODULES = ["relational", "mr", "kv", "shard", "lin", "sources", "dedup",
           "graph", "pipeline", "sim", "text", "sample", "multimodal"]

WORKLOADS = {
    "dedup_graph": ["dedup", "graph", "pipeline"],
    "text_vector": ["text", "sim", "sample", "multimodal"],
    "sql_mr_kv": ["relational", "mr", "kv", "shard", "lin", "sources"],
}

# Chosen per workload to cover each of its modules and the paths the
# ROADMAP items name, at 4-5 s per warm pass on 4 cores.
TIMED = {
    "dedup_graph": [
        "dedup_token_jaccard",   # prefix-filter jaccard chain (set-similarity join)
        "dedup_exact",           # one shuffle, the cheap baseline
        "dedup_minhash_lsh",     # MinHash signatures, LSH banding
        "graph_kcore",           # bipartite edges, iterative rounds, Checkpoints ledger
        "pipeline_crawl",        # multi-stage pipeline
    ],
    "text_vector": [
        "text_pii_scrub",        # per-row regex tokenisation
        "text_langid",           # interpreted (CodegenFallback) lambdas
        "text_bm25",
        "text_tfidf_top",
        "sim_knn_graph",         # mapPartitions vector kernel
        "sim_topk_ivf",          # IVF k-means
        "sample_temperature",
        "sample_weighted",       # interpreted (CodegenFallback) lambdas
        "pack_sequences",
        "mm_resize",             # per-row image decode and resize
    ],
    "sql_mr_kv": [
        "q1_pricing_summary",    # scan + aggregate over lineitem
        "q9_profit_by_nation",   # six-way join
        "ev_funnel",
        "ev_props_nested",       # JSON parsing; DuckDB rejects its sf0.1 input
        "q_bucketed_join",       # bucketed-table write, then join
        "src_orc_roundtrip",     # ORC write and read back
        "mr_inverted_index",
        "kv_exactly_once",       # KV op-log fold
        "shard_migration",
        "lin_check",
    ],
}

SWEEP_SLICES = 16


def module_of(name):
    """The module a registered query belongs to, or None for an unknown prefix."""
    if re.match(r"q\d", name) or name.startswith(("q_", "ev_")):
        return "relational"
    prefix = name.split("_", 1)[0]
    prefix = {"src": "sources", "pack": "sample", "mm": "multimodal",
              "decontam": "dedup"}.get(prefix, prefix)
    return prefix if prefix in MODULES else None


def partition(names):
    """Split the registry into workloads; raise unless each name lands in
    exactly one and every timed query is registered in its own workload."""
    unknown = sorted(n for n in names if module_of(n) is None)
    if unknown:
        raise ValueError(f"registered queries with no module: {unknown}")
    parts = {w: sorted(n for n in names if module_of(n) in mods)
             for w, mods in WORKLOADS.items()}
    if sorted(n for p in parts.values() for n in p) != sorted(names):
        raise ValueError("workloads do not partition the registry exactly once")
    for w, timed in TIMED.items():
        stray = [n for n in timed if n not in parts[w]]
        if stray:
            raise ValueError(f"{w}: timed queries not in the workload: {stray}")
    return parts


def pass_orders(timed, seed, passes):
    """Query order of each pass; the seed only permutes, never selects."""
    orders = []
    for p in range(passes):
        order = list(timed)
        random.Random(f"{seed}:{p}").shuffle(order)
        orders.append(order)
    return orders


def sweep_slice(workload_names, timed, seed):
    """The untimed queries this seed's run oracle-checks."""
    rest = [n for n in workload_names if n not in timed]
    return rest[seed % SWEEP_SLICES::SWEEP_SLICES]
