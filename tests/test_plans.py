"""Physical-plan audits: the properties that make the engine scale must
be visible in the executed plan, not just implied — filter pushdown to
the parquet scan, column pruning in ReadSchema, broadcast joins on the
flagship path (no sort-merge), and whole-stage codegen around the tile
math. A regression in any of these silently costs 10-100x at 100 TB."""

import pyspark.sql.functions as F
import pytest

import bench_queries
from bench_queries import QUERIES
from geotrellis_server_spark.operators import spatial_join, tiling
from geotrellis_server_spark.sources import synth

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bench_inputs(spark, tmp_path_factory):
    """The bench queries' inputs at sf0.001 × 2 docs per documents row,
    cached under a temporary directory."""
    mp = pytest.MonkeyPatch()
    mp.setattr(bench_queries, "CACHE_DIR", str(tmp_path_factory.mktemp("bench_cache")))
    mp.setattr(bench_queries, "CPUS", 1)  # 8 docs files, 4 embeddings files
    inputs = bench_queries.Inputs(spark, SF, 2, 4)
    yield inputs
    inputs.release_unread()
    inputs.release_unread()  # reads nothing since the last call: releases all
    for tbl in ("bench_keyed_z12", "bench_pyr_z6"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    mp.undo()


def _bench_query(inputs, name):
    df = QUERIES[name](inputs)()
    inputs.release_unread()
    return df


def test_filter_pushdown_reaches_parquet_scan(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = ev.filter("ts >= timestamp '2024-01-10 00:00:00'").select("event_id")
    plan = _plan(q)
    assert "PushedFilters" in plan and "ts" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_in_read_schema(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = ev.filter("ts >= timestamp '2024-01-10 00:00:00'").select("event_id")
    read_schema = _plan(q).split("ReadSchema:")[1].splitlines()[0]
    assert "event_id" in read_schema and "ts" in read_schema
    # untouched columns must NOT be scanned
    assert "user_id" not in read_schema and "lon" not in read_schema


def test_flagship_broadcasts_and_never_sort_merges(bench_inputs):
    plan = _plan(_bench_query(bench_inputs, "q1_pip_tile_pipeline"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tile_math_in_wholestage_codegen(bench_inputs):
    df = _bench_query(bench_inputs, "q2_tile_counts_z8")
    df.collect()  # AQE: codegen stages appear in the FINAL plan only
    plan = _plan(df)
    # '*(n)' prefixes = whole-stage-codegen stage ids in the final plan
    assert "*(" in plan and "isFinalPlan=true" in plan
    # the hot path has no Python evaluation nodes
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partial_aggregation_before_exchange(spark):
    # map-side combine: a HashAggregate must appear BELOW the exchange
    # (partial) and above it (final) — hot keys collapse before shuffling
    d = synth.extract_geometry(synth.docs(spark, 1000))
    plan = _plan(tiling.tile_counts(d, 8))
    ex = plan.index("Exchange")
    assert "HashAggregate" in plan[:ex], "no map-side partial aggregate"
    assert "HashAggregate" in plan[ex:], "no final aggregate"


def test_cosine_topk_is_take_ordered_not_global_sort(spark):
    # Round-2 verdict item 1: top-k must plan as TakeOrderedAndProject
    # (per-partition top-k + driver merge of k*P rows), NOT a global
    # Window.orderBy that funnels the whole corpus into one task. The
    # only single-partition exchange allowed is the rank window over the
    # <=k-row result ABOVE the TakeOrderedAndProject.
    from geotrellis_server_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = [float(v) for v in emb.filter("vec_id = 0").first().embedding]
    for df in (
        S.cosine_topk(emb, qvec, 5),
        S.lsh_ann_topk(emb, qvec, 5, n_planes=4),
    ):
        plan = _plan(df)
        tk = plan.index("TakeOrderedAndProject")
        # below the take-ordered (the corpus side): no single-partition
        # exchange and no global sort of the scan
        below = plan[tk:]
        assert "Exchange SinglePartition" not in below
        assert "Sort [" not in below


def test_ivf_topk_is_take_ordered(spark):
    from geotrellis_server_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = [float(v) for v in emb.filter("vec_id = 0").first().embedding]
    cent = S.ivf_train(emb, n_centroids=4, seed=7)
    plan = _plan(S.ivf_ann_topk(emb, cent, qvec, 5, nprobe=4))
    tk = plan.index("TakeOrderedAndProject")
    assert "Exchange SinglePartition" not in plan[tk:]


def test_focal_halo_reuses_input_partitioning(spark):
    """The strips-only halo exchange must NOT reshuffle the tile bodies
    when the input is already hash-partitioned by the halo key: exactly
    one Exchange (the strip rows) on the body side of the join."""
    from geotrellis_server_spark.operators import tiling
    from geotrellis_server_spark.operators.focal import with_halo
    from geotrellis_server_spark.sources import synth

    d = synth.extract_geometry(synth.docs(spark, 2000))
    tiles = (
        tiling.rasterize_count(d, 3, tile_size=8)
        .repartition(8, "zoom", "tile_x", "tile_y")
        .cache()
    )
    tiles.count()
    plan = with_halo(tiles, 1)._jdf.queryExecution().executedPlan().toString()
    # the join's BODY side must be the cached scan DIRECTLY — no Exchange
    # between the join and InMemoryTableScan (plan.count of exchanges is
    # useless here: the InMemoryRelation description embeds the cached
    # lineage's unexecuted exchanges)
    import re

    assert re.search(
        r"Join [^\n]*\n\s*:- InMemoryTableScan", plan
    ), plan[:4000]
    tiles.unpersist()


def test_maml_local_mask_is_one_python_node_without_join(spark):
    """A local expression with a geometry mask reads plain cells and
    rasterizes the polygon in its one kernel: no halo, no mask-table
    join, no Exchange."""
    from geotrellis_server_spark.maml import ast as M
    from geotrellis_server_spark.maml.eval import eval_expr

    rows = [("d", 2, tx, ty, 0, 8, 8, 0.0, 0.0, 1.0, 1.0, "float64", float("nan"),
             [1.0] * 64) for tx in range(2) for ty in range(2)]
    tiles = spark.createDataFrame(rows, synth.TILE_SCHEMA)
    ring = [(-60.0, 40.0), (0.0, 40.0), (0.0, 80.0), (-60.0, 80.0)]
    plan = _plan(eval_expr(M.mask(M.var("d") * 2.0, M.geom(ring)), {"d": tiles}))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_maml_focal_is_one_python_node_exchanging_only_strips(spark):
    """A focal expression over a table bucketed by the tile key: one
    kernel node, and every Exchange sits on the strips side of the
    halo join — the tile bodies come straight from the scan."""
    import re

    from geotrellis_server_spark.maml import ast as M
    from geotrellis_server_spark.maml.eval import eval_expr
    from geotrellis_server_spark.sources import bucketed

    d = synth.extract_geometry(synth.docs(spark, 2000))
    bucketed.materialize_tile_pyramid(tiling.rasterize_count(d, 3, tile_size=8),
                                      "t_plan_focal", n_buckets=8)
    try:
        plan = _plan(eval_expr(M.focal("fmean", M.var("d"), radius=1),
                               {"d": spark.table("t_plan_focal")}))
        assert plan.count("ArrowEvalPython") == 1, plan
        assert "FlatMapGroupsInPandas" not in plan, plan
        body = re.search(r"Join [^\n]*\n\s*:-(.*?)\n\s*\+-", plan, re.S)
        assert body is not None and "Exchange" not in body.group(1), plan
        assert plan[body.end():].count("Exchange") == plan.count("Exchange") >= 1, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_plan_focal")


def test_kmeans_assignment_is_shuffle_free(spark):
    """The final k-means assignment pass must be scan -> Arrow kernel
    with NO Exchange: centroids ride inside the kernel closure."""
    from geotrellis_server_spark.operators.ml import kmeans

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(kmeans(emb, k=4, n_iter=0))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


def test_nb_scoring_broadcasts_the_model(spark):
    """NB classification joins the vocab-sized model BROADCAST onto the
    token stream — a sort-merge join here would shuffle the corpus."""
    from geotrellis_server_spark.operators.ml import nb_classify

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(nb_classify(docs.where("doc_id % 2 = 0"), docs))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_od_flows_single_user_exchange_then_partial_agg(spark):
    """OD flows: one exchange keyed by user for the lag window, then a
    hash aggregate WITH a partial (map-side) phase before the flow-key
    exchange — the hot-pair absorber."""
    from geotrellis_server_spark.operators.trajectory import od_flows

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", "ts",
        F.expr("CAST(event_id % 360 AS DOUBLE) - 180.0").alias("lon"),
        F.expr("CAST(event_id % 170 AS DOUBLE) - 85.0").alias("lat"))
    plan = _plan(od_flows(ev, res=4))
    # partial_count before the final agg = map-side combine present
    assert "partial_count" in plan or "partial_" in plan
    assert plan.count("Exchange hashpartitioning") == 2  # user + flow key


# ---------------------------------------------------------------------------
# extract_geometry parses each doc's WKT once: the parse (substring_index)
# sits in ONE operator of every docs-path plan. With a named_struct
# projection alone, a join's inferred isnotnull(lon/lat) filters are pushed
# down with the whole parse chain inlined into a Filter (and the scan's
# DataFilters), so every row is parsed twice.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("docs") / "docs.parquet")
    synth.docs(spark, 2000).write.parquet(path)
    return path


def _parse_ops(plan: str) -> list:
    """The plan operators (one per line) that evaluate the WKT parse."""
    return [line for line in plan.splitlines() if "substring_index" in line]


def test_pip_job_parses_geometry_once(spark, docs_parquet):
    d = synth.extract_geometry(spark.read.parquet(docs_parquet))
    joined = spatial_join.pip_join_rect(d, synth.zone_grid(spark))
    out = tiling.assign_tiles(joined, 12).groupBy("zone_id", "tile_x", "tile_y").agg(
        F.count("*").alias("n")
    )
    plan = _plan(out)
    assert len(_parse_ops(plan)) == 1, "\n".join(_parse_ops(plan))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "spans:array<struct<kind:string,text:string>>" in read_schema
    assert "media_ref" not in read_schema


def test_knn_ring_join_parses_geometry_once(spark, docs_parquet, monkeypatch):
    from geotrellis_server_spark.operators import knn

    src = spark.read.parquet(docs_parquet)
    # each ring's top-k is persisted; record the plan of the first ring
    # join (docs ⨝ broadcast(cand)) as it is persisted
    plans = []
    cls = type(src)
    persist = cls.persist

    def recording_persist(self, *a, **kw):
        plans.append(_plan(self))
        return persist(self, *a, **kw)

    monkeypatch.setattr(cls, "persist", recording_persist)
    queries = spark.createDataFrame(
        [(0, -74.0, 40.0), (1, 10.0, 50.0), (2, 100.0, -20.0)],
        "query_id BIGINT, qlon DOUBLE, qlat DOUBLE")
    knn.knn_join_bulk(synth.extract_geometry(src), queries, k=3, res=4)
    assert plans and "BroadcastHashJoin" in plans[0]
    assert len(_parse_ops(plans[0])) == 1, "\n".join(_parse_ops(plans[0]))


def test_knn_rings_read_pending_from_local_relation(spark, monkeypatch):
    import re

    from geotrellis_server_spark.operators import knn

    d = synth.extract_geometry(synth.docs(spark, 400))
    # each ring's top-k is persisted; record its executed and analysed
    # plans as it is persisted
    executed, analysed = [], []
    cls = type(d)
    persist = cls.persist

    def recording_persist(self, *a, **kw):
        qe = self._jdf.queryExecution()
        executed.append(qe.executedPlan().toString())
        analysed.append(qe.analyzed().toString())
        return persist(self, *a, **kw)

    monkeypatch.setattr(cls, "persist", recording_persist)
    # a frame built from a Python list plans as Scan ExistingRDD: the
    # ring loop must read it once and re-plan the pending queries as a
    # local relation, not re-read (or nest) the input each ring
    queries = spark.createDataFrame(
        [(0, 0.0, 0.0)], "query_id BIGINT, qlon DOUBLE, qlat DOUBLE")
    knn.knn_join_bulk(d, queries, k=50, res=6)

    def joins(plan: str) -> int:
        return sum(1 for line in plan.splitlines() if re.match(r"^[\s:+|-]*Join ", line))

    assert len(executed) >= 2, "the case must run more than one ring"
    for plan in executed:
        assert "LocalTableScan" in plan, plan
        assert "Scan ExistingRDD" not in plan, plan
    assert joins(analysed[0]) == joins(analysed[-1]), analysed[-1]


def test_tile_counts_parses_geometry_once(spark, docs_parquet):
    d = synth.extract_geometry(spark.read.parquet(docs_parquet))
    assert len(_parse_ops(_plan(tiling.tile_counts(d, 8)))) == 1


# ---------------------------------------------------------------------------
# Every bench query's plan shape, by name: (Python nodes, shuffle
# Exchanges, BroadcastExchanges) in the physical plan AQE starts from.
# q5/q10 run their kNN rings while the DataFrame is built and return a
# checkpointed result, so their plans hold nothing. A changed count is a
# plan change to explain, not a number to copy.
# ---------------------------------------------------------------------------

PLAN_PINS = {
    "q1_pip_tile_pipeline": (0, 1, 1),
    "q19_flagship_bucketed": (0, 0, 0),
    "q24_bbox_zordered": (0, 1, 0),
    "q25_kernel_density": (0, 1, 0),
    "q26_hops_rasterize": (1, 2, 1),
    "q2_tile_counts_z8": (0, 1, 0),
    "q3_cell_encode_r6": (0, 1, 0),
    "q4_rasterize_z4": (1, 2, 0),
    "q5_knn_k10": (0, 0, 0),
    "q6_dedup_minhash_lsh": (0, 5, 3),
    "q7_cosine_topk100": (0, 0, 0),
    "q15_pq_adc_topk100": (0, 0, 0),
    "q16_decontaminate": (0, 4, 1),
    "q17_kmv_distinct": (0, 2, 0),
    "q20_span_dedup": (0, 2, 2),
    "q21_lm_logprob": (0, 4, 3),
    "q22_kmeans_1m": (1, 0, 0),
    "q23_nb_classify": (0, 1, 1),
    "q8_text_stats": (0, 0, 0),
    "q12_chunk_windows": (0, 0, 0),
    "q13_pretrain_curation": (0, 2, 4),
    "q14_pyramid_up_z6to5": (2, 1, 0),
    "q9_focal_fmean_z6": (1, 1, 1),
    "q11_mask_polygon_z6": (1, 0, 0),
    "q18_focal_cold_bucketed": (1, 1, 1),
    "q10_knn_bulk_1k": (0, 0, 0),
}


def _initial_plan_counts(df) -> tuple[int, int, int]:
    """(Python nodes, shuffle Exchanges, BroadcastExchanges) in the
    initial (pre-AQE) physical plan; a cached input counts as its scan."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    counts = [0, 0, 0]
    stack = [plan]
    while stack:
        node = stack.pop()
        counts[0] += node.getClass().getName().startswith("org.apache.spark.sql.execution.python.")
        counts[1] += node.nodeName() == "Exchange"
        counts[2] += node.nodeName() == "BroadcastExchange"
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return tuple(counts)


def test_every_bench_query_has_a_plan_pin():
    assert list(PLAN_PINS) == list(QUERIES)


@pytest.mark.parametrize("name", list(QUERIES))
def test_bench_query_plan_pin(bench_inputs, name):
    assert _initial_plan_counts(_bench_query(bench_inputs, name)) == PLAN_PINS[name], name
