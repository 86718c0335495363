"""Document deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Beyond the reference's uniqueness rule (`app/core/quality_validator.py:157-182`
checks exact key duplicates only), a 100 TB training-data pipeline needs
*near*-duplicate detection. All operators here are pure DataFrame
compositions — no Python UDFs — so they stay inside WholeStageCodegen and
scale by partitioning:

* **exact**: hash-groupBy on a content digest — one shuffle on the digest,
  map-side partial aggregation makes it skew-tolerant (identical docs are
  rare per partition).
* **n-gram Jaccard**: the exact verifier. Shingle → explode → self-join on
  shingle → per-pair intersection counts. O(sum of shingle-frequency²) —
  intended for *candidate verification*, not all-pairs at scale. Common
  shingles are the skew hazard; ``max_shingle_freq`` drops stop-shingles
  (standard in practice — a shingle shared by thousands of docs carries no
  dedup signal but quadratic join cost).
* **MinHash + LSH**: the scale path. Signatures via ``min(xxhash64(shingle,
  band_seed))`` — one groupBy per doc; banding → bucket join so only
  same-bucket pairs are compared; candidates verified with exact Jaccard.
  At 10^11 docs this is shingle-explode (map), one hash-agg (shuffle on
  doc_id), one bucket self-join (shuffle on small band hashes).
* **SimHash**: 64-bit signature from per-bit token-hash voting; near-dups =
  small Hamming distance, found via 16-bit band buckets (any pair within
  Hamming ≤ 3 of 64 bits shares at least one of 4 bands).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame, Window, functions as F

from .textstats import word_grams, ws_tokens


def content_digest(text: Column) -> Column:
    """Stable content hash for exact dedup (md5 hex, portable to SQL oracles)."""
    return F.md5(text.cast("binary"))


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(text_hash, n_docs, min_doc_id) for content appearing more than once.

    One shuffle on the digest; partial aggregation map-side.
    """
    return (
        df.select(
            content_digest(F.col(text_col)).alias("text_hash"), F.col(id_col)
        )
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("min_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per distinct content.

    window-free: min-id per digest then semi-join back, so the heavy side
    shuffles once on the digest. The digest is projected ONCE and reused
    on both sides of the join (inlining it into the join condition would
    md5 the full text twice per row).
    """
    with_h = df.withColumn("__h", content_digest(F.col(text_col)))
    keep = with_h.select("__h", F.col(id_col).alias("__id")).groupBy("__h").agg(
        F.min("__id").alias("__keep")
    )
    return with_h.join(
        keep,
        (with_h["__h"] == keep["__h"]) & (F.col(id_col) == F.col("__keep")),
        "left_semi",
    ).drop("__h")


def word_shingles(text: Column, k: int = 3) -> Column:
    """Array of DISTINCT k-word shingles of ``text`` (space-joined).
    Set semantics over :func:`textstats.word_grams` (one gram builder);
    docs with fewer than k words produce no shingles — matching the
    oracle's positional self-join exactly."""
    return F.array_distinct(word_grams(text, k))


def shingle_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(id, shingle) — one row per distinct shingle per doc."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
    )


DEFAULT_MAX_SHINGLE_FREQ = 1000


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: Optional[int] = DEFAULT_MAX_SHINGLE_FREQ,
    strict_cap: bool = False,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-Jaccard ≥ threshold.

    .. versionchanged:: round 2
       ``max_shingle_freq`` previously defaulted to ``None`` (no cap).
       It now defaults to 1000, so by default Jaccard is computed over
       the stop-shingle-FILTERED universe: on corpora with shingles
       shared by >1000 docs, values near the threshold can differ from
       the uncapped metric. Pass ``max_shingle_freq=None`` explicitly to
       restore the old exact-over-everything behavior (see CHANGELOG.md).

    Exact over the retained shingle universe — use on small inputs or LSH
    candidates. ``max_shingle_freq`` (default 1000; pass ``None`` to
    explicitly opt out) drops shingles shared by more than that many docs:
    a stop-shingle appearing in f docs contributes f² rows to the
    self-join, so one shingle in 10⁵ docs would alone produce 10¹⁰ join
    rows on a single key. Dropped shingles carry essentially no dedup
    signal but DO change the metric near the threshold — both the
    intersection AND the per-doc sizes are therefore computed from the
    same filtered universe, so the reported value is the exact Jaccard
    over retained shingles (never a mixed-universe estimate). Use
    :func:`stop_shingle_report` to see what a given cap would drop.
    """
    sh = shingle_table(df, id_col, text_col, k)
    return jaccard_pairs_from_shingles(
        sh, threshold, max_shingle_freq, strict_cap=strict_cap
    )


def stop_shingles(sh: DataFrame, max_shingle_freq: int) -> DataFrame:
    """(shingle) rows for shingles appearing in MORE than
    ``max_shingle_freq`` docs — the relation every capped stage anti-joins
    against. Small by construction (bounded by corpus_shingles / cap), so
    it broadcasts; the frequency hash-agg that builds it is map-side
    combined and ships only (shingle, count) keys."""
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("f"))
        .filter(F.col("f") > max_shingle_freq)
        .select("shingle")
    )


def drop_stop_shingles(sh: DataFrame, stop: DataFrame) -> DataFrame:
    """Remove stop-shingles via a broadcast anti-join — at scale this
    ships only the (small) stop list, never re-shuffling the full shingle
    table the way an inner join against the frequency relation would."""
    return sh.join(F.broadcast(stop), "shingle", "left_anti")


HOT_SHINGLE_PROBE_DOCS = 50


def materialized_stop_shingles(
    sh: DataFrame,
    max_shingle_freq: int,
    probe_docs: int = HOT_SHINGLE_PROBE_DOCS,
    strict: bool = False,
) -> Optional[DataFrame]:
    """The stop-shingle list, materialized, or ``None`` when no shingle
    exceeds the cap — computed so a CLEAN corpus (the common case) never
    pays a full frequency pass.

    Two steps, both deterministic:

    1. **Sampled probe.** Shingle doc-frequencies are counted over a
       deterministic hash-sample of docs at rate ``r = probe_docs/cap``
       (full pass when r ≥ 1, i.e. small caps stay exact). A shingle at
       the cap shows ≈``probe_docs`` sampled hits; the probe fires at
       half that, so missing a truly-hot shingle needs a ≈5σ downward
       fluctuation (P < 1e-4 at the default 50). Cost: ``r`` of one
       shingle pass — 5% at the default cap of 1000.
    2. **Exact pass, only if the probe fired.** The corpus-wide frequency
       hash-agg builds the exact over-cap list, ``localCheckpoint``-ed so
       BOTH consumers (signature filter + verify filter) broadcast the
       same materialized rows instead of recomputing the aggregate. The
       list is bounded by total_shingle_instances/cap — broadcast-sized
       by construction. (Executor loss invalidating a localCheckpoint
       fails the query and the driver retries — same contract as
       ``duplicate_clusters`` without ``checkpoint_dir``.)

    Borderline corpora whose hottest shingle sits between ``cap·r/2``
    sampled hits and the cap may skip capping entirely — the cap is a
    skew guard, not a semantic contract, and small caps (where every
    dropped shingle matters, e.g. the oracle gate's cap of 5) take the
    r ≥ 1 exact branch. Determinism holds either way: the probe sample
    is a pure function of doc ids. Callers that DO treat the cap as a
    semantic contract (the reported jaccard must be the capped-universe
    value, not "capped unless the probe missed") pass ``strict=True`` to
    skip the probe and always run the exact corpus-wide frequency pass.
    """
    from .sampling import hash_sample

    r = min(1.0, probe_docs / max_shingle_freq)
    if r < 1.0 and not strict:
        probe = hash_sample(
            sh.select("id", "shingle"), r, "id"
        )
        row = (
            probe.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("f"))
            .agg(F.max("f").alias("mx"))
            .collect()[0]
        )
        if (row["mx"] or 0) <= probe_docs / 2:
            return None
    stop = stop_shingles(sh, max_shingle_freq).localCheckpoint()
    if stop.isEmpty():
        return None
    return stop


def jaccard_pairs_from_shingles(
    sh: DataFrame,
    threshold: float = 0.8,
    max_shingle_freq: Optional[int] = DEFAULT_MAX_SHINGLE_FREQ,
    strict_cap: bool = False,
) -> DataFrame:
    """Jaccard ≥ threshold pairs from an (id, shingle) table — lets callers
    build the shingle table once and share it across stages (MinHash
    signatures + candidate verification reuse one table). ``strict_cap``
    forwards to :func:`materialized_stop_shingles`: always run the exact
    frequency pass, for callers that treat the cap as a semantic
    contract rather than a skew guard."""
    if max_shingle_freq is not None:
        stop = materialized_stop_shingles(
            sh, max_shingle_freq, strict=strict_cap
        )
        if stop is not None:
            sh = drop_stop_shingles(sh, stop)
    # sizes AFTER the stop-shingle filter: numerator and denominator must
    # share one shingle universe or jaccard under-estimates near threshold
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "jaccard")


def stop_shingle_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_shingle_freq: int = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """(shingle, f) for shingles ABOVE the frequency cap — what
    :func:`jaccard_pairs` would drop ("no silent caps": surface the
    dropped universe instead of hiding it). Sorted most-frequent first."""
    sh = shingle_table(df, id_col, text_col, k)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("f"))
        .filter(F.col("f") > max_shingle_freq)
        .orderBy(F.desc("f"), "shingle")
    )


_MH_PRIME = (1 << 31) - 1  # Mersenne prime field for the hash family


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]) MinHash signatures.

    One shingle explode + ONE hash-aggregate: all ``num_hashes`` mins are
    computed in the same groupBy (partial agg map-side), so signature
    width costs no extra shuffles. The hash family is Carter–Wegman
    ``(h1 + i·h2) mod p`` derived from TWO xxhash64 evaluations per
    shingle instead of ``num_hashes`` — constants stay < 2^31 so the
    arithmetic never overflows (ANSI-safe) while i·h2 spans the field.
    """
    sh = shingle_table(df, id_col, text_col, k)
    return minhash_signatures_from_shingles(sh, num_hashes)


def minhash_signatures_from_shingles(
    sh: DataFrame, num_hashes: int = 32
) -> DataFrame:
    """Signatures from a prebuilt (id, shingle) table — see
    :func:`minhash_signatures` for the hash-family design."""
    h1 = F.pmod(F.xxhash64(F.col("shingle")), F.lit(_MH_PRIME))
    h2 = F.pmod(F.xxhash64(F.col("shingle"), F.lit(1)), F.lit(_MH_PRIME - 1)) + 1
    hashed = sh.select("id", h1.alias("__h1"), h2.alias("__h2"))
    mins = [
        F.min(
            F.pmod(F.col("__h1") + F.lit(i) * F.col("__h2"), F.lit(_MH_PRIME))
        ).alias(f"__mh{i}")
        for i in range(num_hashes)
    ]
    agg = hashed.groupBy("id").agg(*mins)
    return agg.select(
        "id", F.array(*[F.col(f"__mh{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_candidates(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing ≥1 LSH band bucket.

    Band hash = xxhash64 over the band's signature slice. The bucket join
    shuffles only (band, bucket) keys; identical-band groups are tiny by
    construction (docs per bucket ≈ near-duplicate cluster size).
    """
    banded = signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1)
                                    .cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_band_buckets(
    text: Column, k: int = 3, num_hashes: int = 32, bands: int = 8
) -> Column:
    """Per-ROW MinHash band buckets: array<struct<band:int,bucket:bigint>>
    — BIT-IDENTICAL to :func:`minhash_signatures` + :func:`lsh_candidates`
    banding at equal parameters (same Carter–Wegman family, same band
    hash over the same comma-joined slice), but computed with NO
    groupBy/shuffle: each doc's shingle set is already a per-row array,
    so every signature min is an ``array_min`` over it.

    This is the STREAMING-safe form (stateful operators need the bucket
    before any aggregation), and generally the right shape whenever the
    signature is consumed per-doc rather than joined: zero shuffles, one
    projection. NULL when the doc has fewer than ``k`` words (no
    shingles) — filter those out rather than bucketing them together;
    the batch groupBy path drops them implicitly. No stop-shingle cap —
    per-doc arrays are bounded by doc length, so there is no f² join for
    a hot shingle to inflate here.
    """
    assert num_hashes % bands == 0
    per = num_hashes // bands
    sh = word_shingles(text, k)
    h1 = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MH_PRIME)))
    h2 = F.transform(
        sh, lambda s: F.pmod(F.xxhash64(s, F.lit(1)), F.lit(_MH_PRIME - 1)) + 1
    )
    mins = [
        F.array_min(
            F.zip_with(
                h1, h2, lambda a, b: F.pmod(a + F.lit(i) * b, F.lit(_MH_PRIME))
            )
        )
        for i in range(num_hashes)
    ]
    buckets = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            mins[b * per + r].cast("string")
                            for r in range(per)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return F.when(F.size(sh) > 0, buckets)


def balance_input(df: DataFrame, min_factor: int = 2) -> DataFrame:
    """Repartition a low-parallelism input up to the cluster's default
    parallelism. Small/compacted parquet arrives as one split (a 5 MB file
    is ONE task even at 8 MB maxPartitionBytes) and then every downstream
    explode/agg runs on one core — measured 5.5x on the sf0.1 shingle
    stage. A 100 TB table has thousands of splits, so this no-ops at
    scale; the shuffle it adds on small inputs costs far less than the
    serial stage it prevents."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * min_factor <= target:
        return df.repartition(target)
    return df


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_shingle_freq: Optional[int] = DEFAULT_MAX_SHINGLE_FREQ,
    balance: bool = True,
    strict_cap: bool = False,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard (the scale pipeline):
    returns (id_a, id_b, jaccard) ≥ threshold.

    .. versionchanged:: round 4
       ``max_shingle_freq`` previously defaulted to ``None`` and, when
       set, capped only the VERIFY stage. It now defaults to 1000 and the
       cap applies to the SIGNATURE stage too: the round-3 driver bench
       measured an uncapped signature explode at 2.7× its balanced twin
       when one shingle was shared by 50% of docs (the stop-shingle
       inflates the shingle table AND the same-bucket candidate rate).
       A shingle in f ≫ cluster-size docs carries no dedup signal, so the
       cap costs recall only for pairs whose similarity rides on corpus-
       universal shingles — and both the signatures and the verified
       jaccard use the SAME filtered universe, so every reported value is
       the exact Jaccard over retained shingles (never mixed-universe).
       Pass ``max_shingle_freq=None`` for the old uncapped behavior.

    Stage shape: the stop-shingle list comes from
    :func:`materialized_stop_shingles` — a 5%-of-one-shingle-pass sampled
    probe that returns ``None`` on a clean corpus (the common case pays
    NO frequency pass and NO anti-join), escalating to one exact
    frequency hash-agg, ``localCheckpoint``-ed so the signature filter
    and the verify filter broadcast the same materialized rows instead of
    recomputing the aggregate per consumer. The verify stage semi-joins
    the raw docs down to candidate ids first and re-shingles only that
    small subset — re-deriving the subset's shingles costs less than
    persisting the full shingle table between stages (measured: persist
    was 1.8x slower at sf0.1).

    Cache lifetime: the candidate-pair and shingle-set relations are
    ``localCheckpoint``-ed (each is near-dup-cluster-sized, never corpus-
    sized); their blocks live exactly as long as the returned DataFrame
    references them — when the caller drops the result, the
    ContextCleaner releases the blocks. No caller-managed unpersist.
    """
    if balance:
        df = balance_input(df)
    rows_per_band = num_hashes // bands
    sh = shingle_table(df, id_col, text_col, k)
    stop = None
    if max_shingle_freq is not None:
        stop = materialized_stop_shingles(
            sh, max_shingle_freq, strict=strict_cap
        )
        if stop is not None:
            sh = drop_stop_shingles(sh, stop)
    sigs = minhash_signatures_from_shingles(sh, num_hashes)
    # The candidate-pair relation is consumed THREE times below (both
    # union arms of `ids` plus the final verify join), and Spark does not
    # reliably reuse the signature/banding exchanges across those
    # subtrees — measured at sf0.1 the composed lazy plan re-executed the
    # whole signature+LSH DAG per consumer (full pipeline ≈ 3x the
    # standalone candidate stage). Candidates are pair-ids only and
    # near-dup-cluster-sized, so materialize them once: one job here,
    # then every consumer reads the checkpointed rows. (Executor loss
    # invalidating a localCheckpoint fails the query and the driver
    # retries — same contract as `duplicate_clusters` without
    # ``checkpoint_dir``.)
    cand = lsh_candidates(sigs, bands, rows_per_band).localCheckpoint()
    # verify only candidate pairs, and WITHOUT the explode/self-join shape
    # of standalone jaccard_pairs: each candidate doc's distinct-shingle
    # ARRAY is one projection, and per-pair jaccard is array_intersect on
    # the two arrays — one semi-join + two joins on the (small) candidate
    # relation, no shingle shuffle at all. Candidate docs ≈ near-dup
    # cluster members, so the arrays stay doc-sized and the joined
    # relation stays pair-sized.
    ids = cand.select(F.col("id_a").alias("id")).union(
        cand.select(F.col("id_b").alias("id"))
    ).distinct()
    sub = df.join(
        ids.withColumnRenamed("id", id_col).hint("broadcast"),
        id_col,
        "left_semi",
    )
    if stop is not None:
        # capped verify over the SAME filtered universe as the signatures:
        # re-shingle only candidate docs, drop the same broadcast stop
        # list, group back to per-doc shingle sets. Docs whose every
        # shingle is a stop-shingle have an empty retained set and drop
        # out here (0/0 jaccard is undefined; such docs are boilerplate
        # by definition).
        cand_sh = drop_stop_shingles(
            shingle_table(sub, id_col, text_col, k), stop
        )
        sets = cand_sh.groupBy("id").agg(F.collect_set("shingle").alias("ss"))
    else:
        sets = sub.select(
            F.col(id_col).alias("id"),
            word_shingles(F.col(text_col), k).alias("ss"),
        )
    # `sets` feeds BOTH join sides; un-materialized, each side re-runs
    # the corpus semi-join scan. It holds one shingle-set row per
    # candidate doc — cluster-member-sized — so checkpoint it like cand.
    sets = sets.localCheckpoint()
    a = sets.select(F.col("id").alias("id_a"), F.col("ss").alias("ssa"))
    b = sets.select(F.col("id").alias("id_b"), F.col("ss").alias("ssb"))
    joined = cand.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect(F.col("ssa"), F.col("ssb")))
    jac = inter / (F.size("ssa") + F.size("ssb") - inter)
    return joined.select(
        "id_a", "id_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _portable_token_hash() -> Column:
    """64-bit token hash assembled from two md5 hex windows — slower than
    xxhash64 but expressible in any SQL engine (the DuckDB correctness
    oracle recomputes it bit-for-bit). hi/lo are each < 2^32; the shift
    wraps into the sign bit deterministically."""
    hx = F.md5(F.col("tok").cast("binary"))
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    portable_hash: bool = False,
) -> DataFrame:
    """(id, simhash: bigint) — 64-bit SimHash over whitespace tokens.

    Token-level explode, then ONE aggregate computing all 64 bit-votes
    (sum of ±1 per bit) map-side; the signature assembles driver-free with
    bit arithmetic. No UDFs.

    ``portable_hash``: use the md5-derived token hash instead of xxhash64
    so an external SQL oracle can reproduce the signature exactly (xxhash64
    exists in Spark only). Default stays xxhash64 — cheaper per token.
    """
    token_hash = _portable_token_hash() if portable_hash else F.xxhash64("tok")
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(ws_tokens(F.col(text_col))).alias("tok"),
    ).withColumn("h", token_hash)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"__b{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("id").agg(*votes)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"__b{b}") > 0, F.lit(1).cast("long") * (2**b) if b < 63
                      else F.lit(-(2**63)).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return agg.select("id", sig.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    portable_hash: bool = False,
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ max_hamming.

    Candidate generation via 4×16-bit band buckets (pigeonhole: hamming ≤ 3
    ⇒ at least one band identical), then exact popcount verification via
    bit_count — both stages shuffle only small keys. For max_hamming ≤ 3
    the banding is LOSSLESS, so the result equals the all-pairs answer —
    which is what the DuckDB oracle certifies (with ``portable_hash``).
    """
    sig = simhash(df, id_col, text_col, portable_hash=portable_hash)
    banded = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.chunk")
    a = banded.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "chunk"
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "chunk"
    )
    pairs = (
        a.join(b, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select(
        "id_a", "id_b", ham.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs → (id, cluster_id)
    with cluster_id = the minimum id in the component. This is the step
    that turns pairwise similarity output into dedup GROUPS ("keep one
    per cluster"), where transitive matches (A~B, B~C but not A~C) must
    land in one group.

    Algorithm: min-label propagation with pointer jumping — each round
    every vertex takes the min label among itself and its neighbors, then
    additionally adopts its label's OWN label (l(x) ← min(l(x), l(l(x))),
    the classic shortcut), so convergence needs O(log diameter) rounds,
    not O(diameter). Ids keep their native type (string keys work; no
    silent long cast). Each round checkpoints the label frame: at
    10¹² scale the lineage would otherwise grow per-iteration and replan
    from the raw pairs every round. The driver sees one count per round
    (convergence check), never row data. If ``max_iter`` rounds are not
    enough (diameter > 2^max_iter — pathological), the function RAISES
    instead of returning inconsistent labels.

    Checkpoint durability tradeoff: the default ``localCheckpoint`` keeps
    blocks on executors — fastest, but on a real cluster an executor loss
    mid-iteration kills the job unrecoverably (the truncated lineage
    cannot recompute lost blocks). Pass ``checkpoint_dir`` (HDFS/S3/
    local path) to use reliable ``checkpoint()`` instead: each round's
    labels persist to the fault-tolerant store, trading per-round write
    IO for survivability. Labels are identical either way (pinned by
    test_operators.py::test_duplicate_clusters_reliable_checkpoint).

    Hygiene notes for the reliable path: the SparkContext checkpoint dir
    is app-global state — this function only SETS it when none is
    configured yet and otherwise reuses the existing one (your configured
    dir wins; pass the same path to direct these checkpoints). Reliable
    checkpoint files are not auto-deleted by default — each converged run
    leaves O(rounds) label snapshots; enable
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` at session
    build or sweep the directory between jobs.
    """
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        sc = spark.sparkContext
        existing = sc._jsc.sc().getCheckpointDir()
        if not existing.isDefined():
            sc.setCheckpointDir(checkpoint_dir)

        def _persist_round(frame: DataFrame) -> DataFrame:
            return frame.checkpoint(eager=True)
    else:
        def _persist_round(frame: DataFrame) -> DataFrame:
            return frame.localCheckpoint(eager=True)

    edges = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # checkpoint the edge list BEFORE deriving labels from it: the input
    # is often an expensive un-materialized pair pipeline (LSH candidates
    # + verify), and building labels off the raw plan would execute that
    # whole pipeline a second time (measured ~2× the pair stage on the
    # semantic-dedup bench before this reorder).
    sym = _persist_round(sym)
    labels = _persist_round(
        sym.select(F.col("u").alias("id")).distinct()
        .select("id", F.col("id").alias("lbl"))
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["v"] == labels["id"])
            .groupBy("u")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        half = labels.join(nbr_min, labels["id"] == nbr_min["u"], "left").select(
            "id",
            F.least(F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))).alias(
                "lbl"
            ),
        )
        # pointer jump: follow the label one hop (l(l(x))) and take the min
        parent = half.select(
            F.col("id").alias("pid"), F.col("lbl").alias("plbl")
        )
        new_labels = _persist_round(
            half.join(parent, half["lbl"] == parent["pid"], "left")
            .select(
                "id",
                F.least(
                    F.col("lbl"), F.coalesce("plbl", F.col("lbl"))
                ).alias("lbl"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select("id", F.col("lbl").alias("cluster_id"))
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iter} rounds "
        "(component diameter exceeds 2^max_iter); raise max_iter"
    )


def _cosine_pairs(
    vecs: DataFrame,
    group: List[str],
    threshold: float,
    dim: int,
    lsh: Optional[Tuple[int, int, int]],
) -> DataFrame:
    """(id_a, id_b, cosine, *group) for every id_a < id_b of the same
    ``group`` with cosine ≥ threshold, over ``vecs`` = (id, v, *group).

    ``lsh`` = (planes, bands, seed) draws the candidates from banded
    hyperplane LSH keyed on (*group, band, bucket); multi-band collisions
    dedup on BARE id pairs and each side's vector joins back once
    (shuffling two wide arrays per duplicate candidate through the
    distinct would move ~bands× more data). ``lsh=None`` pairs everything
    within the group. Every candidate is verified by the fold-exact dot
    over per-vector norms (computing the norms per pair redid the fold
    twice per candidate), so every returned pair is exact."""
    from .similarity import band_buckets_pandas, pair_dot_pandas

    dot_udf = pair_dot_pandas(dim)
    vecs_n = vecs.select(
        "id", "v", *group, F.sqrt(dot_udf(F.col("v"), F.col("v"))).alias("nrm")
    )

    def side(s: str, *extra: str) -> DataFrame:
        return vecs_n.select(
            F.col("id").alias(f"id_{s}"),
            F.col("v").alias(f"v{s}"),
            F.col("nrm").alias(f"n{s}"),
            *extra,
        )

    if lsh is None:
        joined = side("a", *group).join(side("b", *group), group).filter(
            F.col("id_a") < F.col("id_b")
        )
    else:
        planes, bands, seed = lsh
        buckets_udf = band_buckets_pandas(
            planes=planes, bands=bands, seed=seed, dim=dim
        )
        keys = [*group, "band", "bucket"]
        with_b = vecs.select(
            "id", *group,
            F.posexplode(buckets_udf(F.col("v"))).alias("band", "bucket"),
        )
        pairs = (
            with_b.select(F.col("id").alias("id_a"), *keys)
            .join(with_b.select(F.col("id").alias("id_b"), *keys), keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .select(*group, "id_a", "id_b")
            .distinct()
        )
        joined = pairs.join(side("a"), "id_a").join(side("b"), "id_b")
    return joined.select(
        "id_a",
        "id_b",
        (
            dot_udf(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        ).alias("cosine"),
        *group,
    ).filter(F.col("cosine") >= threshold)


def embedding_near_duplicates(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 192,
    bands: int = 16,
    seed: int = 42,
    dim: Optional[int] = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a, id_b, cosine) ≥ threshold
    via BANDED random-hyperplane LSH (OR-construction, like MinHash
    banding): candidates share at least one band's full sign pattern;
    exact cosine is verified on candidates only, so every returned pair
    is exact — banding affects recall, never precision.

    ``dim`` is required: a plane set of the wrong width would bucket on a
    prefix of each vector, so the plane width must match the vector
    width — and Spark schemas carry no fixed array length, so inferring
    it would cost a driver-side job during plan construction.

    Scale shape: one Arrow-batched projection computes all band ids
    (``similarity.band_buckets_pandas``); the candidate join shuffles
    only (band, bucket) keys; same-bucket groups ≈ near-dup cluster
    size. No cartesian product anywhere. Defaults are 16 bands of 12
    bits (planes=192; was 4 bands of 4 bits through round 4): at
    threshold 0.95 the OR-construction recall is 1-(1-p^12)^16 ≈ 0.995
    at p≈0.899 (vs ~0.985 for the old 4×4), and 2^12 buckets per band
    make same-bucket groups 256× finer — the round-4 4-bit bands put
    1/16th of a dense region in EVERY bucket, and candidate volume
    (not verification cost) is what goes quadratic on a hot region
    (measured 30M → 0.8M candidates on the hot-cluster bench input).
    Vectors must be non-null.
    """
    if dim is None:
        raise ValueError(
            "embedding_near_duplicates requires dim= "
            "(the embedding dimensionality)"
        )
    vecs = emb_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return _cosine_pairs(vecs, [], threshold, dim, (planes, bands, seed))


def semantic_dedup_pairs(
    assigned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    exact: bool = False,
    planes: int = 192,
    bands: int = 16,
    seed: int = 42,
    dim: Optional[int] = None,
) -> DataFrame:
    """Within-cluster embedding near-dup pairs (id_a, id_b, cosine,
    list_id) ≥ threshold over an IVF-assigned table (``list_id`` column
    from :func:`~..similarity.ivf_assign` / ``ivf_index``) — the pair
    stage of SemDeDup-style semantic dedup: only pairs inside the same
    coarse cluster are considered.

    Scale shape (default, ``exact=False``): candidates come from banded
    hyperplane LSH *conditioned on the cluster* — the join key is
    (list_id, band, bucket), so a bucket collision across clusters never
    produces a candidate, and the per-key group size stays ≈ near-dup
    cluster size. Exact cosine verifies every candidate (precision 1.0;
    banding bounds recall, like every LSH path in this module) — see
    :func:`embedding_near_duplicates` for the band defaults and the
    candidate-volume math; a hot CLUSTER concentrates everything onto
    one list_id, so bucket granularity is the only thing standing
    between that and a quadratic verify.

    ``exact=True`` replaces LSH with the within-cluster all-pairs join —
    O(cluster²) per cluster, the literal SemDeDup formulation and the
    SQL-oracle-replayable spec. Use it when clusters are balanced and
    bounded (n_lists sized so corpus/n_lists² pairs are affordable); a
    pathologically hot cluster makes this quadratic, which is exactly
    what the LSH default avoids.

    ``dim`` (the embedding dimensionality) is required on both paths:
    Spark schemas carry no fixed array length, and inferring it via
    .first() would run a driver-side job during plan construction;
    :func:`semantic_dedup` derives it from the centroids for free.
    """
    if dim is None:
        raise ValueError(
            "semantic_dedup_pairs requires dim= "
            "(the embedding dimensionality)"
        )
    vecs = assigned.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "list_id"
    )
    return _cosine_pairs(
        vecs, ["list_id"], threshold, dim,
        None if exact else (planes, bands, seed),
    )


def semantic_dedup(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    centroids: Optional[List[List[float]]] = None,
    n_lists: int = 16,
    seed: int = 42,
    exact: bool = False,
    planes: int = 192,
    bands: int = 16,
    dim: Optional[int] = None,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (LAION / SemDeDup lineage,
    arXiv:2303.09540): coarse-cluster the embedding space, find
    near-duplicate pairs *within* each cluster, collapse transitive
    matches into components, keep the minimum-id representative of each.
    Returns the survivor table ``(id_col, list_id)``.

    Stages (each one already certified piecewise elsewhere):

    1. **assign** — ``centroids`` given → deterministic
       :func:`~..similarity.ivf_assign` (argmax-cosine projection, no
       fit, SQL-replayable); else a learned KMeans quantizer via
       ``ivf_index`` (production path). Assignment is a pure map —
       at 100 TB the ``list_id`` would be written once as a partition
       column so every later stage prunes to clusters at the scan.
    2. **pair** — :func:`semantic_dedup_pairs` (within-cluster LSH by
       default; ``exact=True`` for the all-pairs oracle spec).
    3. **group** — :func:`duplicate_clusters` min-label components over
       the pairs (transitive A~B~C collapses to one group even when
       A~C misses the threshold).
    4. **keep** — survivors = everything minus non-representative
       component members (one broadcast-sized anti-join: dropped ids ≈
       duplicate count, not corpus size).
    """
    if centroids is not None:
        from .similarity import ivf_assign

        assigned = ivf_assign(emb_df, centroids, id_col, vec_col)
        if dim is None:
            dim = len(centroids[0])  # free — no driver action
    else:
        from .similarity import ivf_index

        learned, assigned = ivf_index(
            emb_df, id_col, vec_col, n_lists=n_lists, seed=seed
        )
        if dim is None:
            # ivf_index already ran a fit (actions happened regardless);
            # the learned centroids carry the dimensionality.
            dim = len(learned[0])
    # The assigned relation feeds FOUR consumers (both LSH bucket sides,
    # the verify vector join, the final survivor anti-join); without a
    # lineage cut the argmax-cosine assign projection re-executes per
    # consumer (~4× the assign cost, measured). Lazy localCheckpoint
    # materializes it once on first use. At 100 TB you would not do
    # this: list_id is written once as a partition column (see the
    # docstring), and every stage prunes at the scan instead.
    assigned = assigned.localCheckpoint(eager=False)
    pairs = semantic_dedup_pairs(
        assigned, id_col, vec_col, threshold,
        exact=exact, planes=planes, bands=bands, seed=seed, dim=dim,
    )
    comp = duplicate_clusters(
        pairs.select("id_a", "id_b"), checkpoint_dir=checkpoint_dir
    )
    dropped = comp.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return assigned.join(dropped, id_col, "left_anti").select(
        id_col, "list_id"
    )
