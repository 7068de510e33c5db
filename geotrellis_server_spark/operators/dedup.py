"""Deduplication operators for large-scale training-data pipelines.

All hashing is md5-hex-string based so every stage is expressible
identically in Spark SQL and DuckDB (md5() returns the same lowercase hex
in both; string min() is lexicographic in both) — the correctness oracle
runs the same algorithm end-to-end.

Scale design:
- exact: hash-groupBy, partial agg collapses duplicates map-side.
- MinHash+LSH: docs → token sets → k min-hashes (ONE groupBy with k
  min() aggregates — no k-fold explosion) → b bands → bucket self-join
  (equi-join on band key; bucket sizes are bounded by near-dup cluster
  size, AQE skew-join splits pathological buckets) → exact Jaccard verify
  on candidates only.
- SimHash: per-token ±1 votes over h bit positions from the token's md5
  hex digits → sign vector as a bit string; Hamming-bucket join on the
  full signature (exact-duplicate-class detector at h=16).
- n-gram Jaccard: character shingles instead of word tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _spread_narrow(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the default parallelism when it arrives as
    fewer partitions than cores, so a CPU-heavy per-doc map is spread (a
    5k-doc table is ONE parquet split — measured 1.3 s single-task vs
    0.5 s spread). A plan holding an Exchange is already wide and is not
    counted: under AQE ``rdd.getNumPartitions()`` runs its shuffle
    stages, which the real query then runs again."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One survivor (min id) per distinct text; returns
    (content_hash, survivor_id, n_dups)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("survivor_id"), F.count("*").alias("n_dups"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def doc_tokens(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct word tokens per doc."""
    return docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).distinct()


def minhash_signatures(
    tokens: DataFrame, k: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """k min-hash values per doc. Hash_i(tok) = md5(tok || '#' || i) —
    min() over hex strings is a valid uniform min-hash (lexicographic
    order on uniformly distributed hex = uniform order)."""
    aggs = [
        F.min(F.md5(F.concat(F.col("tok"), F.lit(f"#{i}")))).alias(f"mh{i}") for i in range(k)
    ]
    return tokens.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 4, rows_per_band: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """Band → bucket → within-bucket pairs (a < b). bands*rows_per_band
    must equal the signature length.

    Skew note (measured, q6 bench): the bucket self-join's output
    partitioning follows the BUCKET key, so a few giant buckets
    concentrate most candidate pairs in a few tasks — and the expensive
    part (the exact array_intersect verify downstream) is broadcast-
    joined, which AQE's skew splitter cannot rebalance. Candidates are
    therefore explicitly re-distributed before returning: distinct()
    (needed anyway when bands > 1 since a pair may collide in several
    bands) doubles as that exchange; with bands == 1 pairs are already
    unique, so a plain round-robin rebalance replaces the aggregate.
    Removing the exchange entirely ran 3× SLOWER at sf0.1 despite doing
    strictly less work. A fused explode-all-bands single join (the
    simhash pattern) was also tried and measured 25% slower than the
    per-band joins + union below — Generate breaks the collapsed
    signature projection."""
    pair_dfs = []
    for b in range(bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        banded = sigs.select(
            F.col(id_col), F.md5(F.concat_ws("|", *[F.col(c) for c in cols])).alias("bucket")
        )
        other = banded.select(F.col(id_col).alias("_b"), "bucket")
        pair_dfs.append(
            banded.join(other, "bucket")
            .filter(F.col(id_col) < F.col("_b"))
            .select(F.col(id_col).alias("a"), F.col("_b").alias("b"))
        )
    out = pair_dfs[0]
    for p in pair_dfs[1:]:
        out = out.union(p)
    return out.hint("rebalance") if bands == 1 else out.distinct()


def jaccard_verify(
    pairs: DataFrame, tokens: DataFrame, threshold: float = 0.5, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard on candidate pairs via token-set join; returns
    (a, b, jaccard) for pairs >= threshold. |A∪B| = |A|+|B|-|A∩B|."""
    sizes = tokens.groupBy(id_col).agg(F.count("*").alias("sz"))
    ta = tokens.select(F.col(id_col).alias("a"), "tok")
    tb = tokens.select(F.col(id_col).alias("b"), "tok")
    inter = (
        pairs.join(ta, "a").join(tb, ["b", "tok"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "a").join(sb, "b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def estimate_prefilter(
    pairs: DataFrame, sigs: DataFrame, k: int, min_est: float, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash Jaccard estimate = fraction of matching signature slots;
    prune candidates whose estimate is far below the target threshold
    BEFORE the expensive exact token join. min_est should sit well under
    the real threshold (estimate variance ~ 1/sqrt(k)) so no true pair is
    lost; with degenerate corpora (tiny vocabularies) this is the
    difference between O(candidates) and O(candidates × tokens)."""
    sa = sigs.select(F.col(id_col).alias("a"), *[F.col(f"mh{i}").alias(f"_a{i}") for i in range(k)])
    sb = sigs.select(F.col(id_col).alias("b"), *[F.col(f"mh{i}").alias(f"_b{i}") for i in range(k)])
    est = sum(
        F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0) for i in range(k)
    ) / F.lit(float(k))
    return (
        pairs.join(sa, "a").join(sb, "b")
        .filter(est >= min_est)
        .select("a", "b")
    )


def doc_token_arrays(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct word tokens per doc as ONE array column — the narrow
    (shuffle-free) representation the minhash pipeline runs on."""
    return docs.select(
        F.col(id_col), F.array_distinct(F.split(F.col(text_col), " ")).alias("toks")
    )


def minhash_signatures_arrays(
    tok_arrays: DataFrame, k: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """k min-hashes via array_min(transform(...)) over the per-doc token
    array — a NARROW projection: no explode, no groupBy, no shuffle
    (the token-table variant above costs an explode+distinct+groupBy
    exchange; measured 2.4× on the q6 bench pipeline). Same semantics:
    lexicographic min over md5 hex strings."""
    cols = [
        F.expr(f"array_min(transform(toks, t -> md5(concat(t, '#{i}'))))").alias(f"mh{i}")
        for i in range(k)
    ]
    return tok_arrays.select(F.col(id_col), *cols)


def jaccard_verify_arrays(
    pairs: DataFrame, tok_arrays: DataFrame, threshold: float = 0.5, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard on candidates via array_intersect — two candidate-
    bounded joins instead of a full token-table join; the set math stays
    JVM-side."""
    ta = tok_arrays.select(F.col(id_col).alias("a"), F.col("toks").alias("_ta"))
    tb = tok_arrays.select(F.col(id_col).alias("b"), F.col("toks").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb"))
    union = F.size("_ta") + F.size("_tb") - inter
    # size gate: J(A,B) <= min(|A|,|B|)/max(|A|,|B|) because the
    # intersection is at most the smaller set and the union at least the
    # larger — pairs that cannot reach the threshold skip the
    # array_intersect entirely (CASE branches evaluate lazily in
    # codegen), with no change to the surviving rows
    sz_a, sz_b = F.size("_ta"), F.size("_tb")
    gated = F.when(
        F.least(sz_a, sz_b)
        >= F.lit(float(threshold)) * F.greatest(sz_a, sz_b),
        inter / union)
    return (
        pairs.join(ta, "a").join(tb, "b")
        .withColumn("jaccard", gated)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    est_margin: float | None = None,
) -> DataFrame:
    """est_margin (e.g. 0.3): enable the signature-estimate prefilter at
    min_est = threshold - margin. None = exact LSH pipeline (all bucket
    candidates verified).

    Plan shape: per-doc token ARRAYS (narrow) → signatures as narrow
    array_min projections (no shuffle) → band bucket self-joins → exact
    array_intersect Jaccard on candidates only. The only shuffles are the
    band joins and the candidate joins — nothing proportional to the
    token count."""
    tok_arrays = doc_token_arrays(docs, text_col, id_col)
    # signature hashing is the CPU-heavy map (k md5s per token)
    tok_arrays = _spread_narrow(tok_arrays)
    sigs = minhash_signatures_arrays(tok_arrays, k, id_col)
    cand = lsh_candidate_pairs(sigs, bands, rows_per_band, id_col)
    if est_margin is not None:
        cand = estimate_prefilter(cand, sigs, k, max(threshold - est_margin, 0.0), id_col)
    return jaccard_verify_arrays(cand, tok_arrays, threshold, id_col)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    tokens: DataFrame, n_bits: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """Per-bit vote: hex digit j of md5(tok) >= '8' → +1 else -1; sign of
    the sum is bit j. Signature returned as an n_bits 0/1 string (portable
    to DuckDB: substring + CASE + sum + concat)."""
    votes = [
        F.sum(
            F.when(F.substring(F.md5("tok"), j + 1, 1).isin(*"89abcdef"), 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(n_bits)
    ]
    agg = tokens.groupBy(id_col).agg(*votes)
    bits = F.concat(*[F.when(F.col(f"v{j}") > 0, "1").otherwise("0") for j in range(n_bits)])
    return agg.select(F.col(id_col), bits.alias("simhash"))


def simhash_dup_classes(docs: DataFrame, n_bits: int = 16,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group docs by identical simhash → (simhash, survivor_id, n_docs)."""
    toks = doc_tokens(docs, text_col, id_col)
    sigs = simhash_signatures(toks, n_bits, id_col)
    return sigs.groupBy("simhash").agg(
        F.min(id_col).alias("survivor_id"), F.count("*").alias("n_docs")
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    n_bits: int = 16,
    max_hamming: int = 3,
    n_bands: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming`` —
    see hamming_pairs_from_sigs for the banded pigeonhole LSH."""
    sigs = simhash_signatures(doc_tokens(docs, text_col, id_col), n_bits, id_col)
    return hamming_pairs_from_sigs(sigs, n_bits, max_hamming, n_bands,
                                   id_col, "simhash")


def hamming_pairs_from_sigs(
    sigs: DataFrame,
    n_bits: int,
    max_hamming: int = 3,
    n_bands: int | None = None,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
) -> DataFrame:
    """Near-dup pairs over ANY bit-string signature column (simhash,
    image dhash, …) by Hamming distance ≤ ``max_hamming`` — banded
    pigeonhole LSH, NOT an all-pairs join: the signature splits into
    ``n_bands`` (default max_hamming+1) contiguous bands; two signatures
    within Hamming distance max_hamming must agree EXACTLY on at least
    one band (pigeonhole), so a per-band bucket self-join finds every
    true pair, and the exact Hamming verify runs on candidates only.
    Returns (a, b, hamming) with a < b.

    All JVM-side (substring bands, sequence/filter Hamming count) —
    whole-stage codegen, no UDF."""
    n_bands = n_bands or (max_hamming + 1)
    if n_bits % n_bands:
        raise ValueError(f"n_bits={n_bits} not divisible by n_bands={n_bands}")
    width = n_bits // n_bands
    if sig_col != "simhash":
        sigs = sigs.withColumnRenamed(sig_col, "simhash")

    banded = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), b -> "
                f"named_struct('band', b, 'bucket', substring(simhash, b * {width} + 1, {width})))"
            )
        ).alias("bb"),
    ).select(id_col, "simhash", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    other = banded.select(
        F.col(id_col).alias("_b"), F.col("simhash").alias("_sb"), "band", "bucket"
    )
    cand = (
        banded.join(other, ["band", "bucket"])
        .filter(F.col(id_col) < F.col("_b"))
        .select(F.col(id_col).alias("a"), F.col("_b").alias("b"),
                F.col("simhash").alias("_sa"), "_sb")
        .distinct()  # a pair may collide in several bands
    )
    hamming = F.expr(
        f"size(filter(sequence(1, {n_bits}), j -> substring(_sa, j, 1) != substring(_sb, j, 1)))"
    )
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def char_ngrams(docs: DataFrame, n: int = 3, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Distinct character n-grams per doc (JVM-side: sequence + transform +
    explode)."""
    grams = F.expr(
        f"explode(array_distinct(transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)),"
        f" i -> substring({text_col}, i, {n}))))"
    )
    return docs.select(F.col(id_col), grams.alias("tok"))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                        k: int = 8, bands: int = 4, rows_per_band: int = 2,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs by character-shingle Jaccard, MinHash-LSH accelerated."""
    toks = char_ngrams(docs, n, text_col, id_col)
    sigs = minhash_signatures(toks, k, id_col)
    cand = lsh_candidate_pairs(sigs, bands, rows_per_band, id_col)
    return jaccard_verify(cand, toks, threshold, id_col)


# ---------------------------------------------------------------------------
# Connected components over near-dup pairs — the cluster→survivor step a
# dedup pipeline actually applies (pairs alone don't dedup anything).
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame, a_col: str = "a", b_col: str = "b", max_iters: int = 20
) -> DataFrame:
    """(a, b) edges → (id, cluster_id) where cluster_id = min id reachable
    — min-label propagation with POINTER JUMPING: each round takes
    min(own, neighbors' labels) and then shortcuts label := label(label),
    so convergence is O(log diameter) rounds, not O(diameter) (the
    hash-to-min / Two-Phase CC recipe from the public large-graph CC
    literature). Each round is two joins + one aggregate; labels are
    localCheckpointed so lineage stays flat. The per-round driver value
    is a single changed-count scalar."""
    edges = (
        pairs.selectExpr(f"{a_col} AS src", f"{b_col} AS dst")
        .union(pairs.selectExpr(f"{b_col} AS src", f"{a_col} AS dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("_nl"))
            .withColumnRenamed("src", "id")
        )
        stepped = labels.join(nbr_min, "id", "left").select(
            "id", F.least("label", F.coalesce("_nl", "label")).alias("label")
        )
        # pointer jumping: label := label(label) (labels are node ids)
        mapping = stepped.select(
            F.col("id").alias("_mid"), F.col("label").alias("_mlabel")
        )
        new_labels = (
            stepped.join(mapping, stepped.label == mapping._mid, "left")
            .select("id", F.coalesce("_mlabel", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter("n.label != o.label")
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


# ---------------------------------------------------------------------------
# incremental (cross-snapshot) dedup
# ---------------------------------------------------------------------------


def incremental_new_docs(
    base: DataFrame, new: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Cross-snapshot incremental dedup: rows of ``new`` whose content
    hash never appeared in ``base``, deduplicated within the new snapshot
    (min-id survivor per hash). Returns (content_hash, survivor_id,
    n_new): first-seen-per-hash dedup for a snapshot-vs-snapshot
    ingest.

    Scale: the base side collapses to a distinct-hash projection BEFORE
    the join (narrow 32-byte column, map-side partial agg), the new side
    collapses to one survivor row per hash, and the left_anti equi-join
    shuffles both sides on content_hash only — no doc text ever moves.
    At 100 TB the base projection is still large, so this stays a
    shuffle (sort-merge) join; AQE converts it to broadcast when the
    base snapshot's distinct-hash side is small enough."""
    base_hashes = base.select(F.md5(F.col(text_col)).alias("content_hash")).distinct()
    survivors = (
        new.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("survivor_id"), F.count("*").alias("n_new"))
    )
    return survivors.join(base_hashes, "content_hash", "left_anti")


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def word_ngrams(docs: DataFrame, n: int = 8, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(id, ngram) rows — distinct word n-grams per doc (JVM transform +
    explode; the standard decontamination unit is the 8-gram)."""
    toks = f"split({text_col}, ' ')"
    # docs with < n tokens are dropped BEFORE the window transform, so
    # every emitted slice is a full n-gram and no per-gram re-split
    # validation is needed (the old post-explode size(split(ngram)) = n
    # filter re-tokenized every gram — pure overhead at corpus scale)
    grams = (
        f"array_distinct(transform(sequence(0, size({toks}) - {n}), "
        f"i -> array_join(slice({toks}, CAST(i AS INT) + 1, {n}), ' ')))"
    )
    # gram building is the CPU-heavy map (window join + distinct per doc)
    return (_spread_narrow(docs).where(F.expr(f"size({toks}) >= {n}"))
            .select(F.col(id_col), F.explode(F.expr(grams)).alias("ngram")))


def decontaminate(
    docs: DataFrame, eval_docs: DataFrame, n: int = 8, min_hits: int = 1,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at
    least ``min_hits`` distinct word n-grams with the evaluation set
    (the standard n-gram-overlap leak check run before pretraining).
    Returns (id, n_hits) for CONTAMINATED docs; the caller anti-joins
    to drop them.

    Scale shape: the eval set is small by definition — its distinct
    n-gram table broadcasts, so the corpus-side n-gram stream is
    filtered map-side (BroadcastHashJoin; the corpus never shuffles on
    raw text). The only exchange is the per-doc hit count, after the
    broadcast join has already discarded every clean n-gram."""
    eval_grams = word_ngrams(eval_docs, n, text_col, id_col).select("ngram").distinct()
    hits = (
        word_ngrams(docs, n, text_col, id_col)
        .join(F.broadcast(eval_grams), "ngram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
        .where(F.col("n_hits") >= min_hits)
    )
    return hits


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus snapshot diff — the audit step between two versions of a
    100-TB lake: one row per doc id present in either snapshot with
    status 'added' | 'removed' | 'changed' | 'unchanged' (content
    compared by md5 of the text, never the text itself). Complements
    :func:`incremental_new_docs` (which filters, this one reports).

    Scale shape: each side reduces to (id, md5) row-locally before the
    ONE full-outer equi-join on id — the join carries 33-char rows, not
    documents; at rest both snapshots are typically id-bucketed so the
    join is co-partitioned and shuffle-free."""
    o = old.select(F.col(id_col),
                   F.md5(F.coalesce(F.col(text_col), F.lit("")))
                   .alias("_ho"))
    n = new.select(F.col(id_col),
                   F.md5(F.coalesce(F.col(text_col), F.lit("")))
                   .alias("_hn"))
    return (o.join(n, id_col, "full_outer")
            .select(F.col(id_col), F.expr(
                "CASE WHEN _ho IS NULL THEN 'added' "
                "WHEN _hn IS NULL THEN 'removed' "
                "WHEN _ho = _hn THEN 'unchanged' "
                "ELSE 'changed' END").alias("status")))
