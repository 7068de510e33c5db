"""Dedup operators vs brute-force oracles on the driver's documents table
(sf0.001) + synthetic near-dup corpus."""

import itertools

import pytest

from geotrellis_server_spark.operators import dedup as D


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),       # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),       # near dup
        (3, "completely different content about spark engines"),
        (4, "spark engines process completely different content"),  # same tokens as 3
        (5, "unrelated short text"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _token_sets(rows):
    return {r[0]: set(r[1].split(" ")) for r in rows}


def test_exact_dedup(corpus):
    out = {r.survivor_id: r.n_dups for r in D.exact_dedup(corpus, id_col="doc_id").collect()}
    assert out[0] == 2  # docs 0 and 1 collapse
    assert len(out) == 5


def test_minhash_finds_near_dups_and_jaccard_exact(corpus):
    rows = corpus.collect()
    tsets = _token_sets([(r.doc_id, r.text) for r in rows])
    got = {(r.a, r.b): r.jaccard for r in
           D.minhash_dedup_pairs(corpus, k=8, bands=4, rows_per_band=2, threshold=0.5).collect()}
    # exact dup pair must always be found with jaccard 1.0
    assert got.get((0, 1)) == 1.0
    # (3,4) share 5 of 7 distinct tokens (about vs process differ)
    assert got.get((3, 4)) == pytest.approx(5 / 7)
    # every reported jaccard must equal the brute-force value
    for (a, b), j in got.items():
        inter = len(tsets[a] & tsets[b])
        union = len(tsets[a] | tsets[b])
        assert abs(j - inter / union) < 1e-12
        assert j >= 0.5


def test_lsh_no_false_negatives_for_identical_sets(spark):
    # identical token sets share every band → always candidates
    rows = [(i, "alpha beta gamma delta") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    pairs = D.minhash_dedup_pairs(df, threshold=0.99).collect()
    assert len(pairs) == len(list(itertools.combinations(range(10), 2)))


def test_simhash_groups_identical_token_sets(spark, corpus):
    out = D.simhash_dup_classes(corpus, id_col="doc_id").collect()
    by_survivor = {r.survivor_id: r.n_docs for r in out}
    assert by_survivor.get(0) == 2  # exact dups 0,1 share every bit
    # token-permutation docs DO have identical token SETS → same simhash
    perm = spark.createDataFrame(
        [(10, "alpha beta gamma"), (11, "gamma alpha beta"), (12, "omega psi chi")],
        "doc_id LONG, text STRING",
    )
    out2 = {r.survivor_id: r.n_docs for r in D.simhash_dup_classes(perm, id_col="doc_id").collect()}
    assert out2.get(10) == 2 and out2.get(12) == 1


def test_ngram_jaccard_near_dup(corpus):
    got = {(r.a, r.b) for r in D.ngram_jaccard_pairs(corpus, n=3, threshold=0.6).collect()}
    assert (0, 1) in got  # exact dup
    assert (0, 2) in got  # dog→cat single-word change, high char-trigram overlap


def test_on_driver_documents(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ex = D.exact_dedup(docs, id_col="doc_id")
    total = docs.count()
    assert ex.count() <= total
    agg = ex.groupBy().sum("n_dups").collect()[0][0]
    assert agg == total  # partition: every doc in exactly one class


def test_simhash_hamming_pairs_complete_vs_brute(spark):
    # pigeonhole LSH must find EVERY pair within the Hamming budget
    from geotrellis_server_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {(r.a, r.b): r.hamming
           for r in dedup.simhash_hamming_pairs(docs, 16, 3).collect()}
    sigs = {r.doc_id: r.simhash
            for r in dedup.simhash_signatures(
                dedup.doc_tokens(docs), 16).collect()}
    ids = sorted(sigs)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(x != y for x, y in zip(sigs[a], sigs[b]))
            if h <= 3:
                want[(a, b) if a < b else (b, a)] = h
    assert got == want and len(want) > 0


def test_connected_components_vs_union_find(spark):
    import random

    from geotrellis_server_spark.operators.dedup import connected_components

    rng = random.Random(11)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "a BIGINT, b BIGINT")
    got = {r.id: r.cluster_id for r in connected_components(df).collect()}

    # driver-side union-find oracle
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for v in parent:
        comp.setdefault(find(v), []).append(v)
    want = {v: min(members) for members in comp.values() for v in members}
    assert got == want


def test_connected_components_chain_diameter(spark):
    # a 30-node path graph needs multiple propagation rounds
    from geotrellis_server_spark.operators.dedup import connected_components

    df = spark.createDataFrame([(i, i + 1) for i in range(30)], "a BIGINT, b BIGINT")
    got = {r.id: r.cluster_id for r in connected_components(df).collect()}
    assert set(got.values()) == {0} and len(got) == 31


def test_incremental_new_docs(spark):
    from geotrellis_server_spark.operators.dedup import incremental_new_docs

    base = spark.createDataFrame(
        [(0, "aaa"), (2, "bbb"), (4, "ccc")], "doc_id BIGINT, text STRING"
    )
    new = spark.createDataFrame(
        [(1, "bbb"),   # seen in base -> dropped
         (3, "ddd"), (5, "ddd"),  # new dup pair -> one survivor (min id)
         (7, "eee")],
        "doc_id BIGINT, text STRING",
    )
    got = {r.survivor_id: r.n_new for r in incremental_new_docs(base, new).collect()}
    assert got == {3: 2, 7: 1}


def test_incremental_new_docs_empty_base(spark):
    from geotrellis_server_spark.operators.dedup import incremental_new_docs

    base = spark.createDataFrame([], "doc_id BIGINT, text STRING")
    new = spark.createDataFrame([(1, "x"), (2, "x")], "doc_id BIGINT, text STRING")
    rows = incremental_new_docs(base, new).collect()
    assert len(rows) == 1 and rows[0].survivor_id == 1 and rows[0].n_new == 2


def test_decontaminate_flags_ngram_overlap(spark):
    from geotrellis_server_spark.operators.dedup import decontaminate

    evals = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id BIGINT, text STRING",
    )
    train = spark.createDataFrame(
        [(1, "prefix words then the quick brown fox jumps over something"),
         (2, "totally unrelated content with no overlap at all here"),
         (3, "quick brown fox jumps over the lazy dog exact tail copy")],
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: r.n_hits for r in
           decontaminate(train, evals, n=5, min_hits=1).collect()}
    assert 1 in got and 3 in got and 2 not in got
    # doc 3 shares a longer run -> more distinct 5-gram hits than doc 1
    assert got[3] > got[1]


def test_decontaminate_min_hits_threshold(spark):
    from geotrellis_server_spark.operators.dedup import decontaminate

    evals = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")], "doc_id BIGINT, text STRING"
    )
    train = spark.createDataFrame(
        [(1, "x alpha beta gamma delta epsilon y")],  # exactly one 5-gram run of 2
        "doc_id BIGINT, text STRING",
    )
    hits1 = decontaminate(train, evals, n=5, min_hits=1).count()
    hits9 = decontaminate(train, evals, n=5, min_hits=9).count()
    assert hits1 == 1 and hits9 == 0


def test_narrow_input_guard_launches_no_job(spark):
    """The narrow-input guard of minhash_dedup_pairs/word_ngrams decides
    at plan-building time: a shuffled input counts as wide and launches
    no job (counting its partitions under AQE would run its shuffle);
    an exchange-free single-partition input is still spread."""
    sc = spark.sparkContext
    shuffled = (spark.range(2000).selectExpr("id % 7 AS k").groupBy("k").count()
                .selectExpr("CAST(k AS STRING) AS doc_id",
                            "repeat('a b c d e f g h ', CAST(count % 5 + 1 AS INT)) AS text"))
    group = "narrow-input-guard"
    sc.setJobGroup(group, "plan building only")
    try:
        grams = D.word_ngrams(shuffled, 3)
        D.minhash_dedup_pairs(shuffled)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert "RoundRobinPartitioning" not in \
        grams._jdf.queryExecution().executedPlan().toString()

    narrow = shuffled.coalesce(1).localCheckpoint()
    plan = D.word_ngrams(narrow, 3)._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan
