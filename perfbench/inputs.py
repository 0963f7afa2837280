"""Seeded inputs for every workload.  The same seed gives the same inputs;
the engine receives nothing but what these functions return."""

from __future__ import annotations

import random

TOP_KS = (3, 5, 10)
# (degree, include_history) of the six requests in one query block: one in
# six expands to degree 2 and one in three asks for history, and the heaviest
# combination (degree 2 with history) is in every block.  A run sends whole
# blocks, so its mix, and with it its mean job count, does not depend on how
# many requests fit in the run.
QUERY_BLOCK = ((1, False), (1, False), (1, False), (1, False), (1, True), (2, True))
INGEST_BATCH = 50

PIPELINE_ROWS = (
    "pricing_summary",
    "local_supplier_volume",
    "stream_stateful_sessions",
    "sessionize_events",
    "ann_ivfpq_topk",
    "colbert_maxsim_topk",
    "knn_cosine_topk",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "neardup_cc_incremental",
    "quality_classifier_scores",
    "perplexity_buckets",
    "remove_shared_spans",
    "bpe_train_merges",
    "dedup_index_incremental",
    "ann_index_streamed",
    "term_index_incremental",
    "versioned_merge_diff",
)


def _query(rnd: random.Random, names: list[str], degree: int, history: bool) -> dict:
    return {
        "seed_entities": rnd.sample(names, rnd.randint(1, min(3, len(names)))),
        "degree": degree,
        "include_history": history,
        "top_k": rnd.choice(TOP_KS),
    }


def query_blocks(seed: int, names: list[str]):
    """Endless stream of request blocks; each block is QUERY_BLOCK in a
    seeded order with seeded seed names and top_k."""
    rnd = random.Random(f"query:{seed}")
    names = sorted(names)
    while True:
        shape = list(QUERY_BLOCK)
        rnd.shuffle(shape)
        yield [_query(rnd, names, d, h) for d, h in shape]


def warmup_queries(seed: int, names: list[str], shapes) -> list[dict]:
    """Untimed requests of the given (degree, include_history) shapes that
    run each code path once before timing starts."""
    rnd = random.Random(f"warmup:{seed}")
    return [_query(rnd, sorted(names), d, h) for d, h in shapes]


def ingest_batches(seed: int, doc_ids: list[int]):
    """Endless stream of (target doc_id, donor doc_id) batches.  The donors
    are the targets rotated by one place, so a batch permutes the content of
    its 50 documents among themselves: the corpus keeps every text, the
    graph keeps its size, and no op's cost drifts with the op count."""
    rnd = random.Random(f"ingest:{seed}")
    ids = sorted(doc_ids)
    while True:
        targets = rnd.sample(ids, min(INGEST_BATCH, len(ids)))
        yield list(zip(targets, targets[1:] + targets[:1]))


def readback_query(seed: int, op: int, texts: list[str], sources: list[str]) -> dict:
    """Degree-1 query seeded with entity names from the triplets of the
    batch just written (tokens 1-9 of each text and its source)."""
    rnd = random.Random(f"readback:{seed}:{op}")
    names = sorted({t for text in texts for t in text.split(" ")[:9]} | set(sources))
    return _query(rnd, names, 1, False)


def pipeline_order(seed: int) -> list[str]:
    rows = list(PIPELINE_ROWS)
    random.Random(f"pipeline:{seed}").shuffle(rows)
    return rows
