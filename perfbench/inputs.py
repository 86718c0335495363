"""Seeded input generation, cached per (workload, seed, size).

Transcripts come from the engine's own fixture generator
(``fixtures.transcripts.transcripts_df``), cut to an exact row count so
every seed gives the workload the same amount of work. The dirty
transform, bucket partitioning and the dedup corpus are the benchmark's
own; the corpus generator's parameters are measured from the engine's
sf0.1 reference corpus (see perfbench/README.md). A cache entry is written to a temporary directory and
renamed into place, so a killed run never leaves a half-written entry.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Callable, Dict

import numpy as np

CACHE_VERSION = "v4"
N_BUCKETS = 32
TOOL_VOCAB = ("search", "browser", "python", "sql")


def dir_stats(path: str) -> Dict[str, int]:
    """Row-independent size of a parquet directory: data files and bytes."""
    files = n_bytes = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, n))
    return {"files": files, "bytes": n_bytes}


def cached(cache_root: str, key: str, build: Callable[[str], dict]) -> dict:
    """Directory of cache entry ``key``, building it with ``build(tmp)``
    when absent. ``build`` writes its inputs under ``tmp`` and returns
    metadata, stored as ``meta.json`` beside them."""
    final = os.path.join(cache_root, key)
    meta_path = os.path.join(final, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    os.makedirs(cache_root, exist_ok=True)
    tmp = os.path.join(cache_root, f".tmp-{key}-{uuid.uuid4().hex[:8]}")
    try:
        meta = build(tmp)
        meta["dir"] = final
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        try:
            os.rename(tmp, final)
        except OSError:
            # another run built the same entry first; use theirs
            if not os.path.exists(meta_path):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(meta_path) as f:
        return json.load(f)


def exact_transcripts(spark, n_rows: int, seed: int):
    """The first ``n_rows`` fixture turns in (conv_id, turn_idx) order,
    with their position as ``__rn``. The fixture gives 99% of
    conversations 2-40 turns (mean 21) and 1% of them 1,200-1,599; how
    many are hot varies with the seed, so the ordinary ones alone must
    cover ``n_rows``: n_rows/15 conversations give ~1.4 n_rows of them
    (sd under 0.02 n_rows). Adding conversations only appends rows after
    the cut. Rows tied on every sort key are identical, so the order is
    deterministic without sorting the wide text column."""
    from pyspark.sql import Window, functions as F

    from data_contract_engine_spark.fixtures.transcripts import transcripts_df

    df = transcripts_df(spark, n_convs=max(n_rows // 15, 50), seed=seed)
    w = Window.orderBy("conv_id", "turn_idx", "role", "tool", "ts", F.xxhash64("text"))
    return df.withColumn("__rn", F.row_number().over(w) - 1).filter(
        F.col("__rn") < n_rows
    )


def dirty_transcripts(df, seed: int):
    """About a third of rows get 1-3 contract violations each (wrong role,
    negative turn, empty text, pre-2020 timestamp, malformed conv_id, in
    a hash-chosen rotation); ~10% of rows move into one hot conversation.
    ``bucket`` is a hash of the final (conv_id, turn_idx): every copy of a
    duplicated key shares a bucket, and the fixture's long conversations
    spread over all buckets, so any 16 buckets hold half the rows for
    every seed."""
    from pyspark.sql import functions as F

    rh = F.xxhash64(F.col("__rn"), F.lit(seed), F.lit("dirty"))

    def pick(tag: str, mod: int):
        return F.pmod(F.xxhash64(rh, F.lit(tag)), F.lit(mod))

    conv = F.when(pick("hot", 10) == 0, F.lit("conv_999999")).otherwise(F.col("conv_id"))
    failing = pick("fail", 3) == 0
    n_err = pick("n", 3) + 1
    first = pick("first", 5)

    def hit(j: int):
        return failing & (F.pmod(F.lit(j) - first, F.lit(5)) < n_err)

    return df.select(
        F.when(hit(4), F.concat(F.lit("CONV-"), conv)).otherwise(conv).alias("conv_id"),
        F.when(hit(1), -1 - F.col("turn_idx")).otherwise(F.col("turn_idx")).alias("turn_idx"),
        F.when(hit(0), F.lit("bot")).otherwise(F.col("role")).alias("role"),
        F.when(hit(2), F.lit("")).otherwise(F.col("text")).alias("text"),
        "tool",
        F.when(hit(3), F.col("ts") - F.expr("INTERVAL 2200 DAYS")).otherwise(F.col("ts")).alias("ts"),
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(N_BUCKETS)).cast("int")
    )


def write_dirty(spark, out: str, seed: int, n_rows: int) -> dict:
    path = os.path.join(out, "transcripts")
    dirty_transcripts(exact_transcripts(spark, n_rows, seed), seed).repartition(
        "bucket"
    ).write.partitionBy("bucket").parquet(path)
    return {"inputs": {"transcripts": dict(rows=n_rows, **dir_stats(path))}}


# The corpus generator reproduces what was measured on the engine's sf0.1
# reference corpus (5,000 documents, 2,000 embeddings; figures in
# perfbench/README.md): a uniform 30-word vocabulary, lengths uniform on
# 10..100 words, 5% near-duplicates made by appending one token to
# another document, 0.16% verbatim copies, and isotropic unit-norm 64-d
# vectors with no cluster structure.
CORPUS_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
)
NEAR_DUP_TOKEN = "dup"
JACCARD_THRESHOLD = 0.8
TOP_K = 10


def shingles(text: str, k: int = 3) -> set:
    """Distinct k-word shingles, as ``dedup.word_shingles`` builds them."""
    t = text.split()
    return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}


def jaccard_pairs(texts, threshold: float = JACCARD_THRESHOLD) -> Dict[str, float]:
    """Every pair ``"a,b"`` (a < b) with exact shingle Jaccard >= threshold,
    by an inverted index (the corpus has no shingle in more than a few
    dozen documents, so this is quick)."""
    from collections import Counter, defaultdict
    from itertools import combinations

    sets = [shingles(t) for t in texts]
    index = defaultdict(list)
    for i, s in enumerate(sets):
        for sh in s:
            index[sh].append(i)
    shared = Counter(p for ids in index.values() for p in combinations(ids, 2))
    out = {}
    for (a, b), n in shared.items():
        j = n / (len(sets[a]) + len(sets[b]) - n)
        if j >= threshold:
            out[f"{a},{b}"] = j
    return out


def exact_topk(vecs: np.ndarray, q: int, k: int = TOP_K) -> Dict[str, list]:
    """Exact cosine top-k of vector ``q`` (ties broken by id), in float64."""
    v = vecs.astype(np.float64)
    sims = v @ v[q] / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[q]))
    order = np.lexsort((np.arange(len(v)), -sims))[:k]
    return {"ids": [int(i) for i in order], "sims": [float(sims[i]) for i in order]}


def write_corpus(out: str, seed: int, n_docs: int, n_vecs: int, dim: int = 64,
                 n_queries: int = 16) -> dict:
    """Documents and embeddings, and their ground truth: every document
    pair at Jaccard >= 0.8, the planted near-duplicate and verbatim-copy
    pairs, and the exact cosine top-10 of ``n_queries`` query vectors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    words = np.array(CORPUS_WORDS)
    n_near = n_docs // 20
    n_copy = n_docs * 8 // 5000
    n_base = n_docs - n_near - n_copy
    texts = [
        " ".join(words[rng.integers(len(words), size=int(rng.integers(10, 101)))])
        for _ in range(n_base)
    ]
    src_near = rng.integers(n_base, size=n_near)
    src_copy = rng.integers(n_base, size=n_copy)
    texts += [f"{texts[s]} {NEAR_DUP_TOKEN}" for s in src_near]
    texts += [texts[s] for s in src_copy]
    # planted copies are spread over the id range, as in the sf0.1 corpus
    perm = rng.permutation(n_docs)           # new id of generated document i
    docs_text = [""] * n_docs
    for i, t in enumerate(texts):
        docs_text[perm[i]] = t

    def pair(a, b):
        a, b = int(perm[a]), int(perm[b])
        return f"{min(a, b)},{max(a, b)}"

    planted = sorted({pair(s, n_base + i) for i, s in enumerate(src_near)}
                     | {pair(s, n_base + n_near + i) for i, s in enumerate(src_copy)})
    truth = jaccard_pairs(docs_text)
    missing = [p for p in planted if p not in truth]
    if missing:
        raise RuntimeError(f"planted pairs below the Jaccard threshold: {missing[:5]}")
    docs = pa.table({"doc_id": pa.array(range(n_docs), pa.int64()), "text": docs_text})

    vecs = rng.normal(size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in vecs], pa.list_(pa.float32())),
    })
    queries = [int(q) for q in rng.choice(n_vecs, size=n_queries, replace=False)]
    meta = {
        "inputs": {},
        "truth": {
            "pairs": truth,
            "planted": planted,
            "exact_pairs": sum(1 for j in truth.values() if j >= 1.0),
            "topk": {str(q): exact_topk(vecs, q) for q in queries},
        },
        "queries": queries,
    }
    for name, table in (("documents", docs), ("embeddings", emb)):
        path = os.path.join(out, name)
        os.makedirs(path)
        per = (table.num_rows + 3) // 4
        for i in range(4):
            pq.write_table(table.slice(i * per, per), os.path.join(path, f"part-{i}.parquet"))
        meta["inputs"][name] = dict(rows=table.num_rows, **dir_stats(path))
    return meta
