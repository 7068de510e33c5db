"""kNN ring expansion vs brute force — exactness incl. forced expansion."""

from geotrellis_server_spark.operators import knn
from geotrellis_server_spark.sources import synth

N = 2500


def _brute(pdf, qlon, qlat, k):
    ds = (pdf.lon.values - qlon) ** 2 + (pdf.lat.values - qlat) ** 2
    return [x[1] for x in sorted(zip(ds, pdf.doc_id.values))[:k]]


def test_knn_exact_various_queries(spark):
    d = synth.extract_geometry(synth.docs(spark, N))
    pdf = d.select("doc_id", "lon", "lat").toPandas()
    queries = [
        (0, -74.0, 40.5),   # inside a hot cluster
        (1, 10.0, 10.0),    # sparse mid-world
        (2, 179.0, -80.0),  # world corner (clipped rings)
        (3, 0.25, 0.25),
    ]
    res = knn.knn_join(d, queries, k=7).toPandas()
    for qid, qlon, qlat in queries:
        got = res[res.query_id == qid].sort_values("rank").doc_id.tolist()
        assert got == _brute(pdf, qlon, qlat, 7), f"query {qid}"


def _count_rings(monkeypatch, df) -> list:
    """Patch ``persist`` on ``df``'s class: each kNN ring persists its
    top-k once, so the returned list grows by one per ring."""
    rings = []
    cls = type(df)
    persist = cls.persist

    def counting_persist(self, *a, **kw):
        rings.append(self)
        return persist(self, *a, **kw)

    monkeypatch.setattr(cls, "persist", counting_persist)
    return rings


def test_knn_forces_ring_expansion(spark, monkeypatch):
    # k larger than the first disk holds at coarse res → must expand
    d = synth.extract_geometry(synth.docs(spark, 400))
    pdf = d.select("doc_id", "lon", "lat").toPandas()
    rings = _count_rings(monkeypatch, d)
    res = knn.knn_join(d, [(0, 0.0, 0.0)], k=50, res=6).toPandas()
    assert res.sort_values("rank").doc_id.tolist() == _brute(pdf, 0.0, 0.0, 50)
    assert len(rings) >= 2


def test_knn_k_exceeds_population(spark):
    d = synth.extract_geometry(synth.docs(spark, 30))
    res = knn.knn_join(d, [(0, 0.0, 0.0)], k=100).toPandas()
    assert len(res) == 30


def _qdf(spark, triples):
    return spark.createDataFrame(triples, "query_id BIGINT, qlon DOUBLE, qlat DOUBLE")


def test_knn_bulk_matches_brute(spark):
    d = synth.extract_geometry(synth.docs(spark, N))
    pdf = d.select("doc_id", "lon", "lat").toPandas()
    queries = [(j, ((j * 7349) % 368640) / 1024.0 - 180.0,
                ((j * 4391) % 174080) / 1024.0 - 85.0) for j in range(40)]
    res = knn.knn_join_bulk(d, _qdf(spark, queries), k=7).toPandas()
    for qid, qlon, qlat in queries:
        got = res[res.query_id == qid].sort_values("rank").doc_id.tolist()
        assert got == _brute(pdf, qlon, qlat, 7), f"query {qid}"


def test_knn_bulk_forces_ring_expansion(spark):
    d = synth.extract_geometry(synth.docs(spark, 400))
    pdf = d.select("doc_id", "lon", "lat").toPandas()
    res = knn.knn_join_bulk(d, _qdf(spark, [(0, 0.0, 0.0)]), k=50, res=6).toPandas()
    assert res.sort_values("rank").doc_id.tolist() == _brute(pdf, 0.0, 0.0, 50)


def test_knn_bulk_k_exceeds_population(spark):
    d = synth.extract_geometry(synth.docs(spark, 30))
    res = knn.knn_join_bulk(d, _qdf(spark, [(0, 0.0, 0.0), (1, 100.0, 50.0)]), k=100).toPandas()
    assert len(res) == 60


def test_knn_bulk_plan_broadcasts_queries(spark, monkeypatch):
    # the docs side must never shuffle for the candidate join: in every
    # ring the pending queries' disk cells broadcast and the docs flow
    # map-side through a BroadcastHashJoin
    d = synth.extract_geometry(synth.docs(spark, 400))
    rings = _count_rings(monkeypatch, d)
    knn.knn_join_bulk(d, _qdf(spark, [(0, 0.0, 0.0)]), k=50, res=6)
    assert len(rings) >= 2, "the case must run more than one ring"
    for topk in rings:
        plan = topk._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_auto_res_density_rule():
    from geotrellis_server_spark.operators.knn import auto_res

    assert auto_res(4_000_000) == 7   # the measured sweet spot at 4M
    assert auto_res(60_000) == 4
    assert auto_res(1_000_000_000) == 11  # deepens with the corpus
    assert 2 <= auto_res(1) <= 12
