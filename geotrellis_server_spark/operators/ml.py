"""Embedding-space ML operators — integer-quantized k-means (Lloyd's),
SemDeDup-style semantic near-dup pruning, and a multinomial Naive Bayes
document classifier.

Reference parity note: the reference engine (geotrellis-server) has no
ML operators; these belong to the LLM-pipeline family the brief adds —
k-means clustering is the backbone of SemDeDup (Abbas et al. 2023,
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication") and of IVF index training; the Naive Bayes classifier
is the aggregation-friendly stand-in for the fastText quality filter of
the GPT-3 / CCNet pipelines (Brown et al. 2020 §A; Wenzek et al. 2020).

Determinism design (same doctrine as operators/graph.py): float
centroids and float cosine thresholds are order-sensitive, so every
coordinate is floor-quantized ONCE to integer quanta and all distances,
argmins, centroid updates and threshold tests are exact BIGINT
arithmetic — associative, partition/order-invariant, and replayable
bit-for-bit by a SQL oracle. Quantization is part of the operator's
*definition*, not an implementation detail.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..arrow_lists import list_col, list_matrix

# k-means coordinate quanta: embeddings live in ~[-1, 1], so 2^20
# quanta keep 6 significant digits; squared-distance sums stay < 2^48
# for dim <= 64 (see kmeans docstring for the general bound)
KMEANS_SCALE = 1 << 20
# cosine-test quanta: the threshold test squares the dot product, so
# the scale must satisfy dim^2 * scale^4 * theta_den^2 < 2^63;
# 2^10 gives dot^2 <= (64 * 2^20)^2 = 2^52 at dim 64
COS_SCALE = 1 << 10


def quantize_expr(vec_col: str, scale: int) -> str:
    """SQL expression quantizing array<float> -> array<bigint> by
    floor(x * scale). float->double is exact and scale is a power of
    two, so the double multiply is exact and both engines floor the
    identical value."""
    return (f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * "
            f"{float(scale)!r}D) AS BIGINT))")


def kmeans(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iter: int = 3,
    scale: int = KMEANS_SCALE,
    dim: int | None = None,
    checkpoint=None,
) -> DataFrame:
    """Lloyd's k-means over an embedding column, fully deterministic:
    (id, cluster_id, dist_q) after ``n_iter`` synchronous rounds.

    - Coordinates are floor-quantized to ``scale`` quanta (BIGINT).
    - Init: the k rows with the smallest md5(CAST(id AS STRING)) become
      centroids 1..k (content-hash order — partition-invariant and
      identical in any engine; df.sample() is neither).
    - Assignment: argmin of exact integer squared distances, ties to
      the lowest cluster id (np.argmin finds the FIRST minimum).
    - Update: per-cluster per-dimension BIGINT sums; the new coordinate
      is floor(sum / count) evaluated in double — exact-safe while
      |sum| < 2^52 (the quotient is >= 1/count away from the nearest
      integer unless exact, and the division error is < ulp). Empty
      clusters keep their previous centroid.

    Exactness of the vectorized kernel: with dim * (2*scale)^2 < 2^53
    every quantized coordinate, dot product, squared norm and distance
    is an INTEGER exactly representable in float64, and float64
    arithmetic on exactly-representable integers below 2^53 is exact
    regardless of summation order — so the BLAS matmul inside the
    Arrow-batched kernel reproduces BIGINT arithmetic bit-for-bit (the
    DuckDB gate oracle replays it in integer SQL and agrees).

    Scale shape: each round is ONE pass — a mapInPandas kernel holding
    the k*dim centroid matrix emits per-BATCH partial sums (k rows of
    (count, per-dim sums) per Arrow batch — the map-side combine), and
    the only exchange is the k*dim-row groupBy behind them. Driver
    state is k*dim BIGINTs per round, like BPE's argmax scalar. The
    final assignment pass is shuffle-free. At 10^12 rows nothing wide
    ever moves: the corpus is scanned n_iter+1 times and only k*dim
    rows per partition leave each training pass.
    """
    import numpy as np
    import pandas as pd

    if k < 1 or n_iter < 0:
        raise ValueError("k >= 1 and n_iter >= 0 required")
    if dim is None:
        first = (df.where(F.col(vec_col).isNotNull())
                 .select(F.size(vec_col).alias("d")).head())
        if first is None:
            raise ValueError("empty input")
        dim = int(first["d"])
    if dim * (2 * scale) ** 2 >= (1 << 53):
        raise ValueError(f"dim {dim} * (2*{scale})^2 must be < 2^53 "
                         "for exact float64 distance arithmetic")
    src = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    # round 0 state = init centroids; resumable via lineage.py's
    # IterativeCheckpoint (north rule: checkpointed iterative jobs) —
    # the k*dim-int centroid matrix IS the whole round state, so a
    # resumed run is bit-identical by determinism of every round
    if checkpoint is not None and checkpoint.state(0) is not None:
        cents = [list(map(int, c)) for c in checkpoint.state(0)]
    else:
        # bounded driver collect: exactly k rows (TakeOrderedAndProject);
        # quantize AFTER the limit so only k rows pay the transform
        init = (src.orderBy(F.expr("md5(CAST(_id AS STRING))"),
                            F.col("_id"))
                .limit(int(k))
                .select("_id", F.expr(quantize_expr("_v", scale))
                        .alias("q"))
                .collect())
        if len(init) < k:
            raise ValueError(f"need >= {k} rows, got {len(init)}")
        cents = [list(r["q"]) for r in init]
        if checkpoint is not None:
            checkpoint.commit_json(0, cents)
    fscale = float(scale)

    def _dists(E, C, cc):
        """n x k exact integer distances (float64)."""
        Q = np.floor(E * fscale)
        qq = (Q * Q).sum(axis=1)
        return qq[:, None] - 2.0 * (Q @ C.T) + cc[None, :], Q

    def _partials(cents):
        import pyarrow as pa

        C = np.asarray(cents, dtype=np.float64)
        cc = (C * C).sum(axis=1)
        k_ = len(C)

        def fn(batches):
            # accumulate across the task's batches: exact float64
            # integer sums (< 2^53) are order-invariant, so one k*dim
            # partial per TASK replaces one per batch
            sums = np.zeros((k_, dim), dtype=np.float64)
            cnt = np.zeros(k_, dtype=np.int64)
            for rb in batches:
                if not rb.num_rows:
                    continue
                E = list_matrix(rb.column(0), dim, "vector")
                D, Q = _dists(E, C, cc)
                cid = D.argmin(axis=1)
                # one-hot matmul: exact integer per-cluster sums in one
                # BLAS call instead of k masked passes
                oh = np.zeros((k_, len(cid)), dtype=np.float64)
                oh[cid, np.arange(len(cid))] = 1.0
                sums += oh @ Q
                cnt += np.bincount(cid, minlength=k_)
            live = np.nonzero(cnt)[0]
            if len(live):
                yield pa.RecordBatch.from_arrays(
                    [pa.array((live + 1).astype(np.int32)),
                     pa.array(cnt[live]),
                     list_col(sums[live].astype(np.int64))],
                    names=["cid", "n", "s"])

        # ship ONLY the vector column into the training rounds — the id
        # is dead weight there (the assign pass still carries it)
        return src.select("_v").mapInArrow(
            fn, "cid int, n long, s array<long>")

    def _assign(cents):
        import pyarrow as pa

        C = np.asarray(cents, dtype=np.float64)
        cc = (C * C).sum(axis=1)

        def fn(batches):
            for rb in batches:
                if not rb.num_rows:
                    continue
                E = list_matrix(rb.column(1), dim, "vector")
                D, _ = _dists(E, C, cc)
                cid = D.argmin(axis=1)
                yield pa.RecordBatch.from_arrays(
                    [rb.column(0),
                     pa.array((cid + 1).astype(np.int32)),
                     pa.array(D[np.arange(len(D)), cid]
                              .astype(np.int64))],
                    names=["_id", "cid", "dist_q"])

        return src.mapInArrow(fn, "_id long, cid int, dist_q long")

    for it in range(n_iter):
        if checkpoint is not None:
            done = checkpoint.state(it + 1)
            if done is not None:  # round already committed: skip work
                cents = [list(map(int, c)) for c in done]
                continue
        # k*dim-row exchange: per-batch partials -> per-cluster totals
        sums = (_partials(cents)
                .select("cid", "n", F.posexplode("s").alias("i", "si"))
                .groupBy("cid", "i")
                .agg(F.sum("n").alias("nn"), F.sum("si").alias("ss"))
                .collect())
        byc: dict[int, list] = {}
        nof: dict[int, int] = {}
        for r in sums:
            byc.setdefault(int(r["cid"]), [0] * dim)[int(r["i"])] = \
                int(r["ss"])
            nof[int(r["cid"])] = int(r["nn"])
        cents = [
            [math.floor(float(s) / nof[c + 1]) for s in byc[c + 1]]
            if (c + 1) in byc else cents[c]
            for c in range(len(cents))]
        if checkpoint is not None:
            checkpoint.commit_json(it + 1, cents)
    return _assign(cents).select(
        F.col("_id").alias(id_col),
        F.col("cid").alias("cluster_id"),
        F.col("dist_q").cast("long").alias("dist_q"))


def kmeans_oracle_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iter: int = 3,
    scale: int = KMEANS_SCALE,
    dim: int = 64,
) -> str:
    """DuckDB replay of :func:`kmeans` — unrolled MATERIALIZED CTEs,
    one (assign, update) pair per round, exact integer arithmetic
    throughout (same doctrine as the PageRank oracle)."""
    d1 = dim + 1
    qx = (f"list_transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE)"
          f" * {float(scale)!r}) AS BIGINT))")
    parts = [f"""
    WITH e AS MATERIALIZED (
        SELECT {id_col} AS id, {qx} AS q FROM {table}
        WHERE {vec_col} IS NOT NULL),
    c0 AS MATERIALIZED (
        SELECT row_number() OVER (
            ORDER BY md5(CAST(id AS VARCHAR)), id) AS cid, q
        FROM e ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {k})"""]
    for r in range(1, n_iter + 2):
        parts.append(f"""
    a{r} AS MATERIALIZED (
        SELECT id, q, cid, dist FROM (
            SELECT e.id, e.q, c.cid,
                   CAST(list_sum(list_transform(range(1, {d1}),
                        i -> (e.q[i] - c.q[i]) * (e.q[i] - c.q[i])))
                        AS BIGINT) AS dist,
                   row_number() OVER (PARTITION BY e.id
                                      ORDER BY CAST(list_sum(
                        list_transform(range(1, {d1}),
                        i -> (e.q[i] - c.q[i]) * (e.q[i] - c.q[i])))
                        AS BIGINT), c.cid) AS rn
            FROM e CROSS JOIN c{r - 1} c) WHERE rn = 1)""")
        if r == n_iter + 1:
            break
        parts.append(f"""
    c{r} AS MATERIALIZED (
        SELECT o.cid, coalesce(n.q, o.q) AS q
        FROM c{r - 1} o LEFT JOIN (
            SELECT cid, list(m ORDER BY i) AS q FROM (
                SELECT cid, t.i,
                       CAST(floor(CAST(sum(q[t.i]) AS DOUBLE)
                                  / count(*)) AS BIGINT) AS m
                FROM a{r}, range(1, {d1}) t(i) GROUP BY cid, t.i)
            GROUP BY cid) n ON o.cid = n.cid)""")
    parts.append(f"""
    SELECT id AS {id_col}, cid AS cluster_id, dist AS dist_q
    FROM a{n_iter + 1}""")
    return ",".join(parts[:-1]) + parts[-1]


def semantic_dedup_pairs(
    df: DataFrame,
    clusters: DataFrame,
    theta_num: int = 4,
    theta_den: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = COS_SCALE,
) -> DataFrame:
    """SemDeDup pruning pairs (Abbas et al. 2023): within each k-means
    cluster, every ordered pair (keep_id < drop_id) whose quantized
    cosine similarity is >= theta_num/theta_den. Downstream keeps one
    representative per near-dup neighborhood by dropping the distinct
    ``drop_id`` set — the published recipe (cluster, then prune
    within-cluster cosine neighbors), made exact:

        cos(a, b) >= t  <=>  dot > 0  AND  den^2*dot^2 >= num^2*|a|^2*|b|^2

    with dot/|a|^2/|b|^2 BIGINT sums over floor-quantized coordinates —
    no float comparison anywhere, so cross-engine reproducible.

    Scale shape: norms are row-local; the pair generator is a self-
    equi-join ON cluster_id (shuffle keyed by cluster — NEVER all-pairs
    across the corpus; cluster count grows with the corpus so per-
    cluster pair counts stay bounded, and a skewed giant cluster is an
    input-tuning problem AQE skew-join splits). Overflow: requires
    dim * theta_den * scale^2 < 2^31 (dot^2 terms < 2^63) — dim 64,
    den <= 5, scale 2^10 gives 2^57 max.

    Zero-norm (all-zero quantized) vectors never match: dot > 0 fails.
    """
    qn = (df.select(F.col(id_col).alias("_id"),
                    F.expr(quantize_expr(vec_col, scale)).alias("q"))
          .withColumn("n2", F.expr(
              "aggregate(transform(q, x -> x * x), 0L, (a, v) -> a + v)"))
          .join(clusters.select(F.col(id_col).alias("_id"), "cluster_id"),
                "_id"))
    a = qn.select(F.col("_id").alias("ida"), F.col("q").alias("qa"),
                  F.col("n2").alias("na2"), "cluster_id")
    b = qn.select(F.col("_id").alias("idb"), F.col("q").alias("qb"),
                  F.col("n2").alias("nb2"), "cluster_id")
    t2n, t2d = theta_num * theta_num, theta_den * theta_den
    return (
        a.join(b, "cluster_id")
        .where(F.col("ida") < F.col("idb"))
        .withColumn("dot", F.expr(
            "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, "
            "(acc, v) -> acc + v)"))
        .where(F.expr(f"dot > 0 AND {t2d} * dot * dot >= "
                      f"{t2n} * na2 * nb2"))
        .select(F.col("ida").alias("keep_id"),
                F.col("idb").alias("drop_id"))
    )


def semantic_dedup_oracle_sql(
    kmeans_sql_body: str,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    theta_num: int = 4,
    theta_den: int = 5,
    scale: int = COS_SCALE,
    dim: int = 64,
) -> str:
    """DuckDB replay of kmeans + :func:`semantic_dedup_pairs`.
    ``kmeans_sql_body`` is the full kmeans oracle; it is embedded as a
    subquery supplying cluster assignments."""
    d1 = dim + 1
    qx = (f"list_transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE)"
          f" * {float(scale)!r}) AS BIGINT))")
    t2n, t2d = theta_num * theta_num, theta_den * theta_den
    return f"""
    WITH km AS MATERIALIZED ({kmeans_sql_body}),
    qn AS MATERIALIZED (
        SELECT t.{id_col} AS id, {qx} AS q,
               CAST(list_sum(list_transform({qx}, x -> x * x))
                    AS BIGINT) AS n2,
               km.cluster_id
        FROM {table} t JOIN km ON t.{id_col} = km.{id_col}),
    pairs AS (
        SELECT a.id AS keep_id, b.id AS drop_id,
               CAST(list_sum(list_transform(range(1, {d1}),
                    i -> a.q[i] * b.q[i])) AS BIGINT) AS dot,
               a.n2 AS na2, b.n2 AS nb2
        FROM qn a JOIN qn b
          ON a.cluster_id = b.cluster_id AND a.id < b.id)
    SELECT keep_id, drop_id FROM pairs
    WHERE dot > 0 AND {t2d} * dot * dot >= {t2n} * na2 * nb2"""


def nb_classify(
    train: DataFrame,
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multinomial Naive Bayes: train add-1-smoothed per-class token
    distributions on ``train``, classify every row of ``docs``:
    (id, pred, score_q). The aggregation-native stand-in for the
    fastText quality classifier of the GPT-3/CCNet pipelines.

        score(c, doc) = ln prior(c) + sum_t ln((c_tc + 1) / (N_c + V))

    with V = |train vocab| (docs-side unseen tokens still score the
    smoothing floor ln(1/(N_c+V))). Each per-token class log-prob is
    floor-quantized to 2^-20 BEFORE the per-doc sum (the dsir/lm_logprob
    doctrine — integer sums are order-invariant and cross-engine exact;
    a 1-ULP ln() divergence only matters within 2^-32 of a quantum
    edge). Prediction = argmax score_q, ties to the lexically smallest
    class label.

    Scale shape: the model is a groupBy(token) count pivoted to one row
    per token with a per-class count array (map-side partials; vocab-
    sized, far smaller than the corpus). Scoring BROADCAST-joins the
    model onto the row-local doc-token stream, sums BIGINTs per doc
    (one map-side-combined exchange) and argmaxes over the class array
    row-locally. Classes are a bounded driver collect (the class list
    is the model's schema, like BPE's argmax scalar)."""
    classes = sorted(
        r[0] for r in
        train.select(label_col).where(F.col(label_col).isNotNull())
        .distinct().collect())
    if not classes:
        raise ValueError("no classes in train")
    k = len(classes)

    def _toks(d: DataFrame, *extra) -> DataFrame:
        return (d.select(*extra,
                         F.explode(F.split(F.col(text_col), " "))
                         .alias("tok"))
                .where(F.col("tok") != ""))

    # the train token stream carries one NULL-token sentinel row per
    # doc, so per-class DOC counts (the priors) fall out of the same
    # groupBy(tok) pass as the model — no separate prior scan
    tr = (train.where(F.col(label_col).isNotNull())
          .select(F.col(label_col).alias("_cls"),
                  F.explode(F.expr(
                      f"concat(coalesce(split({text_col}, ' '), array()),"
                      f" array(CAST(NULL AS STRING)))")).alias("tok"))
          .where(F.col("tok").isNull() | (F.col("tok") != "")))
    # one row per token: per-class counts (pivot via conditional aggs);
    # checkpointed so the stats pass below and the scoring join both
    # read the small materialized table, not the corpus lineage
    full = tr.groupBy("tok").agg(
        *[F.sum(F.when(F.col("_cls") == c, 1).otherwise(0))
          .alias(f"c{i}") for i, c in enumerate(classes)]
    ).localCheckpoint(eager=True)
    model = full.where(F.col("tok").isNotNull())
    # class token totals + vocab fall out of the model table (no second
    # corpus scan: N_c = column sum, V = row count); priors from the
    # sentinel row
    stats = model.agg(
        F.count("*").alias("_v"),
        *[F.sum(f"c{i}").alias(f"_n{i}") for i in range(k)]).head()
    n_c = {c: int(stats[f"_n{i}"] or 0) for i, c in enumerate(classes)}
    vocab = int(stats["_v"])
    prow = full.where(F.col("tok").isNull()).head()
    prior = {c: int(prow[f"c{i}"]) if prow is not None else 0
             for i, c in enumerate(classes)}
    n_docs = sum(prior.values())

    # per-token per-class quantized log-prob columns; unseen-token
    # smoothing floor folded into the coalesce default
    S = 1 << 20
    lp_cols = []
    floors = []
    for i, c in enumerate(classes):
        den = n_c.get(c, 0) + vocab
        lp_cols.append(F.expr(
            f"CAST(floor((ln(CAST(c{i} + 1 AS DOUBLE)) - "
            f"ln(CAST({den} AS DOUBLE))) * {float(S)!r}D) AS BIGINT)"
        ).alias(f"q{i}"))
        floors.append(int(math.floor(-math.log(float(den)) * S)))
    mq = model.select("tok", *lp_cols)
    prior_q = [int(math.floor(
        math.log(prior.get(c, 0) / n_docs) * S)) for c in classes]

    # scoring stream: the doc's tokens PLUS one NULL sentinel row per
    # doc, contributing 0 — so every doc (even token-less / NULL-text)
    # reaches the aggregation and the prior-only fallback falls out of
    # the same argmax, with NO corpus-sized join-back (a left join of
    # ids onto scores here planned as a full SortMergeJoin — the plan
    # test pins its absence)
    tok_stream = (docs.select(
        F.col(id_col),
        F.explode(F.expr(
            f"concat(coalesce(split({text_col}, ' '), array()), "
            f"array(CAST(NULL AS STRING)))")).alias("tok"))
        .where(F.col("tok").isNull() | (F.col("tok") != "")))
    scored = (
        tok_stream
        .join(F.broadcast(mq), "tok", "left")  # NULL tok never matches
        .groupBy(id_col)
        .agg(*[(F.sum(F.when(F.col("tok").isNull(), F.lit(0)).otherwise(
                    F.coalesce(F.col(f"q{i}"), F.lit(floors[i]))))
                + F.lit(prior_q[i])).alias(f"s{i}") for i in range(k)])
    )
    arr = "array(" + ", ".join(f"s{i}" for i in range(k)) + ")"
    cls_arr = "array(" + ", ".join(
        "'" + c.replace("'", "''") + "'" for c in classes) + ")"
    return scored.select(
        F.col(id_col),
        F.expr(f"element_at({cls_arr}, CAST(array_position({arr}, "
               f"array_max({arr})) AS INT))").alias("pred"),
        F.expr(f"array_max({arr})").cast("long").alias("score_q"))


def nb_classify_oracle_sql(
    train_where: str,
    docs_where: str = "TRUE",
    table: str = "documents",
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of :func:`nb_classify` (train = rows matching
    ``train_where``). Classes/priors/vocab are CTEs instead of driver
    scalars; the per-token quantized log-prob and the argmax tie-break
    mirror the Spark expressions exactly."""
    S = float(1 << 20)
    return f"""
    WITH tr AS MATERIALIZED (
        SELECT {label_col} AS cls, unnest(string_split({text_col}, ' '))
               AS tok
        FROM {table} WHERE ({train_where})
              AND {label_col} IS NOT NULL),
    trt AS MATERIALIZED (SELECT cls, tok FROM tr WHERE tok <> ''),
    classes AS MATERIALIZED (
        SELECT cls, row_number() OVER (ORDER BY cls) AS ci
        FROM (SELECT DISTINCT cls FROM trt)),
    nc AS MATERIALIZED (SELECT cls, count(*) AS n FROM trt GROUP BY cls),
    vocab AS MATERIALIZED (
        SELECT count(DISTINCT tok) AS v FROM trt),
    model AS MATERIALIZED (
        SELECT t.tok, c.cls,
               CAST(floor((ln(CAST(count(*) + 1 AS DOUBLE)) -
                    ln(CAST(nc.n + vocab.v AS DOUBLE))) * {S!r})
                    AS BIGINT) AS q
        FROM trt t JOIN classes c ON t.cls = c.cls
        JOIN nc ON nc.cls = c.cls CROSS JOIN vocab
        GROUP BY t.tok, c.cls, nc.n, vocab.v),
    floors AS MATERIALIZED (
        SELECT c.cls,
               CAST(floor(-ln(CAST(nc.n + vocab.v AS DOUBLE)) * {S!r})
                    AS BIGINT) AS fq
        FROM classes c JOIN nc ON nc.cls = c.cls CROSS JOIN vocab),
    priors AS MATERIALIZED (
        SELECT c.cls,
               CAST(floor(ln(CAST(p.n AS DOUBLE) /
                    (SELECT sum(n) FROM (
                        SELECT count(*) AS n FROM {table}
                        WHERE ({train_where}) AND {label_col} IS NOT NULL
                        GROUP BY {label_col}))) * {S!r}) AS BIGINT) AS pq
        FROM classes c JOIN (
            SELECT {label_col} AS cls, count(*) AS n FROM {table}
            WHERE ({train_where}) AND {label_col} IS NOT NULL
            GROUP BY {label_col}) p ON p.cls = c.cls),
    dt AS MATERIALIZED (
        SELECT {id_col} AS id, unnest(string_split({text_col}, ' '))
               AS tok
        FROM {table} WHERE ({docs_where})),
    dtt AS MATERIALIZED (SELECT id, tok FROM dt WHERE tok <> ''),
    scores AS MATERIALIZED (
        SELECT d.id, c.cls,
               sum(coalesce(m.q, f.fq)) + any_value(p.pq) AS s
        FROM dtt d CROSS JOIN classes c
        LEFT JOIN model m ON m.tok = d.tok AND m.cls = c.cls
        JOIN floors f ON f.cls = c.cls
        JOIN priors p ON p.cls = c.cls
        GROUP BY d.id, c.cls),
    best AS (
        SELECT id, cls AS pred, CAST(s AS BIGINT) AS score_q,
               row_number() OVER (PARTITION BY id
                                  ORDER BY s DESC, cls) AS rn
        FROM scores),
    prior_best AS (
        SELECT cls AS pred, pq AS score_q,
               row_number() OVER (ORDER BY pq DESC, cls) AS rn
        FROM priors)
    SELECT t.{id_col}, coalesce(b.pred, pb.pred) AS pred,
           coalesce(b.score_q, pb.score_q) AS score_q
    FROM {table} t
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.id = t.{id_col}
    CROSS JOIN (SELECT * FROM prior_best WHERE rn = 1) pb
    WHERE ({docs_where})"""


def gram_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = COS_SCALE,
) -> DataFrame:
    """Sufficient statistics for a ridge/least-squares linear probe
    over an embedding column — the distributed 99% of fitting
    ``label ~ embedding``: ONE corpus pass emits the exact quantized
    second-moment statistics as BIGINT rows (i, j, v):

        (i, j,  sum q[i]*q[j])   upper triangle i <= j   (Gram)
        (i, -1, sum q[i]*y)                              (moments)
        (i, -3, sum q[i])                                (column sums)
        (-1, -1, n)   (-1, -2, sum y)                    (scalars)

    over floor-quantized coordinates. Integer sums are order- and
    partition-invariant, so the statistics — hence the downstream
    :func:`ridge_fit` solve — are engine-exact (DuckDB-gated).

    Scale shape: identical to the k-means rounds — a mapInPandas
    kernel computes per-BATCH partials with float64 BLAS (products
    <= scale^2 quanta, per-batch sums < 2^53: every intermediate an
    exactly-representable integer), emits dim*(dim+1)/2 + 2*dim + 2
    rows per batch, and ONE map-side-combined groupBy reduces them.
    Nothing wide moves at any corpus size."""
    import numpy as np
    import pandas as pd

    fscale = float(scale)
    src = (df.where(F.col(vec_col).isNotNull()
                    & F.col(label_col).isNotNull())
           .select(F.col(vec_col).alias("_v"),
                   F.col(label_col).cast("long").alias("_y")))

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(pdf["_v"].to_numpy())
            Q = np.floor(E.astype(np.float64) * fscale)
            y = pdf["_y"].to_numpy().astype(np.float64)
            G = Q.T @ Q          # dim x dim, exact integers
            m = Q.T @ y
            sx = Q.sum(axis=0)
            d = G.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame({
                "i": np.concatenate([iu, np.arange(d), np.arange(d),
                                     [-1, -1]]).astype("int32"),
                "j": np.concatenate([ju, np.full(d, -1), np.full(d, -3),
                                     [-1, -2]]).astype("int32"),
                "v": np.concatenate([G[iu, ju], m, sx,
                                     [len(pdf), y.sum()]])
                .astype("int64")})

    return (src.mapInPandas(fn, "i int, j int, v long")
            .groupBy("i", "j").agg(F.sum("v").alias("v")))


def ridge_fit(stats_rows, dim: int, lam: float = 1e-3,
              scale: int = COS_SCALE):
    """Driver-side ridge solve from collected :func:`gram_stats` rows:
    (weights[dim], intercept) in ORIGINAL embedding units, centered —
    minimizes sum (y - w.x - b)^2 + lam*n*|w|^2. A dim x dim solve,
    trivial next to the scan that produced the statistics."""
    import numpy as np

    G = np.zeros((dim, dim))
    m = np.zeros(dim)
    sx = np.zeros(dim)
    n, sy = 0, 0.0
    for r in stats_rows:
        i, j, v = int(r["i"]), int(r["j"]), float(r["v"])
        if i == -1:
            if j == -1:
                n = int(v)
            else:
                sy = v
        elif j == -1:
            m[i] = v
        elif j == -3:
            sx[i] = v
        else:
            G[i, j] = v
            G[j, i] = v
    if n == 0:
        raise ValueError("no rows")
    s = float(scale)
    G /= s * s
    m /= s
    sx /= s
    mu = sx / n
    gc = G - np.outer(sx, sx) / n          # centered Gram
    mc = m - sx * (sy / n)                 # centered moments
    w = np.linalg.solve(gc + lam * n * np.eye(dim), mc)
    b = sy / n - float(w @ mu)
    return w, b


def pca_fit(stats_rows, dim: int, n_components: int,
            scale: int = COS_SCALE):
    """PCA from :func:`gram_stats` sufficient statistics — the same
    one-pass Gram/moment/column-sum rows fit the covariance matrix, so
    PCA costs NOTHING beyond the scan the probe already paid:

        cov = (G - sx sx^T / n) / n        (population covariance)

    Returns (components[k][dim], mean[dim], eigvals[k]) with a
    deterministic sign convention (each component's largest-|entry|
    coordinate is positive) so fits are reproducible across runs.
    Driver-side dim x dim eigendecomposition — trivial next to the
    scan."""
    import numpy as np

    G = np.zeros((dim, dim))
    sx = np.zeros(dim)
    n = 0
    for r in stats_rows:
        i, j, v = int(r["i"]), int(r["j"]), float(r["v"])
        if i == -1:
            if j == -1:
                n = int(v)
        elif j == -3:
            sx[i] = v
        elif j >= 0:
            G[i, j] = v
            G[j, i] = v
    if n == 0:
        raise ValueError("no rows")
    s = float(scale)
    G /= s * s
    sx /= s
    mu = sx / n
    cov = G / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)      # ascending
    order = np.argsort(vals)[::-1][:n_components]
    comps = vecs[:, order].T              # k x dim
    for c in comps:                       # deterministic sign
        if c[np.argmax(np.abs(c))] < 0:
            c *= -1.0
    return comps, mu, vals[order]


def pca_project(
    df: DataFrame,
    components,
    mean,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Project embeddings onto fitted components: (id, proj array<k>
    double) — the dimensionality-reduction / whitening step before
    clustering or ANN. Arrow-batched (E - mean) @ W^T matmul, zero
    shuffle; the k x dim component matrix rides in the closure like
    k-means centroids."""
    import numpy as np
    import pandas as pd

    W = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)
    src = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            P = (E - mu[None, :]) @ W.T
            yield pd.DataFrame({"_id": pdf["_id"],
                                "proj": list(P)})

    return (src.mapInPandas(fn, "_id long, proj array<double>")
            .select(F.col("_id").alias(id_col), "proj"))
