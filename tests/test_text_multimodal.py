"""Text analysis tests."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from geotrellis_server_spark.operators import text as TX


def test_text_stats_hand_computed(spark):
    df = spark.createDataFrame([(1, "the quick fox")], "doc_id LONG, text STRING")
    r = TX.text_stats(df).collect()[0]
    assert r.n_chars == 13 and r.n_tokens == 3
    assert abs(r.stopword_ratio - 1 / 3) < 1e-12
    assert r.punct_ratio == 0.0
    assert abs(r.avg_token_len - 11 / 3) < 1e-12


def test_quality_score_bounds(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    st = TX.text_stats(docs)
    mm = st.agg(F.min("quality_score"), F.max("quality_score")).collect()[0]
    assert 0.0 <= mm[0] and mm[1] <= 1.0
    assert st.count() == docs.count()


def test_token_count(spark):
    df = spark.createDataFrame([(1, "a bb ccc dddd")], "doc_id LONG, text STRING")
    r = TX.token_count(df).collect()[0]
    assert r.ws_tokens == 4
    assert r.bpe_tokens_est == int(np.ceil(13 / 4))


def test_lang_id_markers(spark):
    rows = [(1, "the cat and the hat of things"), (2, "el gato de la casa"),
            (3, "xyzzy plugh")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r.doc_id: r.lang_pred for r in TX.lang_id(df).collect()}
    assert got[1] == "en" and got[2] == "es" and got[3] == "und"


def test_fingerprint_normalization(spark):
    rows = [(1, "Hello   World"), (2, "hello world"), (3, "different")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    fp = {r.doc_id: r.fingerprint for r in TX.fingerprint(df).collect()}
    assert fp[1] == fp[2] != fp[3]


def test_png_decoder_all_filters():
    # the decoder must handle every scanline filter, not just the type-0
    # lines encode_png emits: hand-build a PNG using Sub/Up/Average/Paeth
    import struct
    import zlib

    import numpy as np

    from geotrellis_server_spark.styles.png import _chunk, decode_png

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    h, w, c = img.shape

    def paeth(a, b, cc):
        p = int(a) + int(b) - int(cc)
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)

    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int32)
    for y in range(h):
        line = img[y].ravel().astype(np.int32)
        ftype = [1, 2, 3, 4, 0][y % 5]
        raw.append(ftype)
        enc = np.zeros(w * c, dtype=np.int32)
        for x in range(w * c):
            left = line[x - c] if x >= c else 0
            ul = prev[x - c] if x >= c else 0
            if ftype == 0:
                enc[x] = line[x]
            elif ftype == 1:
                enc[x] = line[x] - left
            elif ftype == 2:
                enc[x] = line[x] - prev[x]
            elif ftype == 3:
                enc[x] = line[x] - ((left + prev[x]) >> 1)
            else:
                enc[x] = line[x] - paeth(left, prev[x], ul)
        raw.extend((enc & 0xFF).astype(np.uint8).tobytes())
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b""))
    assert (decode_png(data) == img).all()


def test_chunk_documents_windows(spark):
    from geotrellis_server_spark.operators import text

    df = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(95))), (1, "a b"), (2, "only")],
        "doc_id LONG, text STRING",
    )
    rows = text.chunk_documents(df, size=50, overlap=10).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 0: 95 tokens -> ceil((95-10)/40)=3 windows at offsets 0/40/80
    w0 = sorted(by_doc[0], key=lambda r: r.chunk_id)
    assert [r.n_chunk_tokens for r in w0] == [50, 50, 15]
    assert w0[0].chunk.split(" ")[0] == "t0"
    assert w0[1].chunk.split(" ")[0] == "t40"
    assert w0[2].chunk.split(" ")[-1] == "t94"
    # overlap: last 10 tokens of window 0 = first 10 of window 1
    assert w0[0].chunk.split(" ")[-10:] == w0[1].chunk.split(" ")[:10]
    # short docs -> exactly one window, tail kept
    assert len(by_doc[1]) == 1 and by_doc[1][0].n_chunk_tokens == 2
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk == "only"
    # no shuffle: chunking must plan without Exchange
    plan = text.chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_split_assign_deterministic_and_weighted(spark):
    from geotrellis_server_spark.operators import text

    df = spark.range(20000).selectExpr("id AS doc_id")
    a = text.split_assign(df).groupBy("split").count().collect()
    counts = {r.split: r["count"] for r in a}
    assert abs(counts["train"] / 20000 - 0.8) < 0.01
    assert abs(counts["val"] / 20000 - 0.1) < 0.01
    assert abs(counts["test"] / 20000 - 0.1) < 0.01
    # pure function of (id, salt): repartitioning cannot move a doc
    one = {r.doc_id: r.split for r in text.split_assign(df.repartition(16)).collect()}
    two = {r.doc_id: r.split for r in text.split_assign(df.coalesce(1)).collect()}
    assert one == two
    # different salt -> different assignment (not all docs though)
    other = {r.doc_id: r.split
             for r in text.split_assign(df, salt="split-v2").collect()}
    assert one != other
    # weights must sum to 1
    import pytest as _pytest
    with _pytest.raises(ValueError):
        text.split_assign(df, {"train": 0.5, "test": 0.4})


def test_stratified_sample_deterministic(spark):
    import pyspark.sql.functions as F

    from geotrellis_server_spark.operators import text

    df = spark.range(10000).selectExpr(
        "id AS doc_id", "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' ELSE 'c' END AS g")
    out = text.stratified_sample(df, {"a": 1.0, "b": 0.25}, "g", default_rate=0.0)
    counts = {r.g: r["count"] for r in out.groupBy("g").count().collect()}
    assert counts["a"] == df.filter("g = 'a'").count()  # rate 1.0 keeps all
    assert abs(counts["b"] / df.filter("g = 'b'").count() - 0.25) < 0.03
    assert "c" not in counts  # default_rate 0 drops the rest
    # partition-invariant: identical kept set under different layouts
    k1 = {r.doc_id for r in text.stratified_sample(
        df.repartition(16), {"a": 1.0, "b": 0.25}, "g").collect()}
    k2 = {r.doc_id for r in text.stratified_sample(
        df.coalesce(1), {"a": 1.0, "b": 0.25}, "g").collect()}
    assert k1 == k2
    # no shuffle
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_redact_pii(spark):
    from geotrellis_server_spark.operators import text

    df = spark.createDataFrame(
        [(0, "mail bob@corp.io and 555-123-4567 ssn 123-45-6789 ip 10.0.0.1 end"),
         (1, "clean text only")],
        "doc_id LONG, text STRING",
    )
    r = {x.doc_id: x for x in text.redact_pii(df).collect()}
    assert r[0].n_email == 1 and r[0].n_phone == 1
    assert r[0].n_ssn == 1 and r[0].n_ipv4 == 1
    assert r[0].redacted == "mail <EMAIL> and <PHONE> ssn <SSN> ip <IPV4> end"
    assert r[1].redacted == "clean text only"
    assert r[1].n_email == r[1].n_ssn == 0
    # no shuffle, no python
    plan = text.redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_repetition_stats(spark):
    from geotrellis_server_spark.operators import text

    df = spark.createDataFrame(
        [(0, "a a a a"), (1, "a b c d"), (2, "x")],
        "doc_id LONG, text STRING",
    )
    r = {x.doc_id: x for x in text.repetition_stats(df).collect()}
    assert r[0].unique_token_ratio == 0.25 and r[0].adjacent_repeat_frac == 1.0
    assert r[1].unique_token_ratio == 1.0 and r[1].adjacent_repeat_frac == 0.0
    assert r[2].unique_token_ratio == 1.0 and r[2].adjacent_repeat_frac == 0.0


def test_near_unity_rates_keep_everything(spark):
    # regression: rates rounding to 65536 once formatted as the 5-char
    # '10000', which sorts BELOW most 4-hex hashes -> ~6% kept
    from geotrellis_server_spark.operators import text

    df = spark.range(2000).selectExpr("id AS doc_id", "'a' AS g")
    kept = text.stratified_sample(df, {"a": 0.9999999}, "g").count()
    assert kept == 2000
    splits = text.split_assign(df, {"train": 1.0, "val": 0.0})
    counts = {r.split: r["count"] for r in splits.groupBy("split").count().collect()}
    assert counts == {"train": 2000}


def test_pack_sequences_invariants(spark):
    from geotrellis_server_spark.operators.text import pack_sequences

    docs = spark.range(200).selectExpr(
        "id AS doc_id",
        # token counts 1..40, some docs oversized vs capacity 32
        "concat_ws(' ', transform(sequence(1, CAST(id % 40 AS INT) + 1,"
        " 1), j -> concat('t', CAST(j AS STRING)))) AS text",
    )
    out = pack_sequences(docs, capacity=32, n_packers=4).collect()
    assert len(out) == 200 and len({r.doc_id for r in out}) == 200
    # bin fill: sum of tokens per (packer, bin) <= capacity unless the
    # bin holds a single oversized doc
    from collections import defaultdict
    fill = defaultdict(list)
    for r in out:
        fill[(r.packer, r.bin_id)].append(r.ws_tokens)
    for toks in fill.values():
        assert sum(toks) <= 32 or len(toks) == 1
    # offsets are the running sum inside the bin (FFD order: desc tokens)
    for (p, b), toks in fill.items():
        rows = sorted(
            [r for r in out if r.packer == p and r.bin_id == b],
            key=lambda r: r.bin_offset,
        )
        off = 0
        for r in rows:
            assert r.bin_offset == off
            off += r.ws_tokens


def test_pack_sequences_partition_invariant(spark):
    from geotrellis_server_spark.operators.text import pack_sequences

    docs = spark.range(150).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(0, CAST(id % 20 AS INT)),"
        " j -> 'w')) AS text",
    )
    a = {(r.doc_id, r.packer, r.bin_id, r.bin_offset)
         for r in pack_sequences(docs.repartition(16), capacity=24).collect()}
    b = {(r.doc_id, r.packer, r.bin_id, r.bin_offset)
         for r in pack_sequences(docs.coalesce(1), capacity=24).collect()}
    assert a == b


def test_extract_urls_and_blocklist(spark):
    from geotrellis_server_spark.operators.text import blocklist_filter, extract_urls

    docs = spark.createDataFrame(
        [(1, "see https://a.example.com/x and http://b.org/y?z=1 ok"),
         (2, "no links here"),
         (3, "dup https://a.example.com/other")],
        "doc_id BIGINT, text STRING",
    )
    urls = extract_urls(docs).collect()
    got = {(r.doc_id, r.domain) for r in urls}
    assert got == {(1, "a.example.com"), (1, "b.org"), (3, "a.example.com")}

    docs2 = spark.createDataFrame(
        [(1, "src0"), (2, "src1"), (3, "src0")], "doc_id BIGINT, source STRING"
    )
    blocked = spark.createDataFrame([("src0",)], "source STRING")
    kept = {r.doc_id for r in blocklist_filter(docs2, blocked).collect()}
    assert kept == {2}


def test_pack_sequences_randomized_against_reference(spark):
    """Seeded random corpora run through the PRODUCTION pack_sequences;
    per-packer output must equal an independent next-fit reference and
    satisfy the bin-capacity invariant."""
    import random

    from geotrellis_server_spark.operators.text import pack_sequences

    rng = random.Random(41)
    capacity = 48
    docs = [(i, " ".join("w" for _ in range(rng.randint(1, 60))))
            for i in range(120)]
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    out = pack_sequences(df, capacity=capacity, n_packers=5).collect()
    assert len(out) == 120

    # independent reference: same routing/order rules, scalar next-fit
    by_packer = {}
    for i, text in docs:
        by_packer.setdefault(i % 5, []).append((i, len(text.split(" "))))
    want = {}
    for p, members in by_packer.items():
        members.sort(key=lambda it: (-it[1], it[0]))
        cum, b = 0, -1
        for i, tok in members:
            if b < 0 or cum + tok > capacity:
                b += 1
                cum = tok
            else:
                cum += tok
            want[i] = (p, b, cum - tok)
    got = {r.doc_id: (r.packer, r.bin_id, r.bin_offset) for r in out}
    assert got == want
    # capacity invariant on production output
    fill = {}
    for r in out:
        fill.setdefault((r.packer, r.bin_id), []).append(r.ws_tokens)
    for toks in fill.values():
        assert sum(toks) <= capacity or len(toks) == 1


def test_top_k_per_group_matches_plain_window(spark):
    from pyspark.sql import Window

    from geotrellis_server_spark.operators.text import top_k_per_group

    df = spark.range(5000).selectExpr(
        "id",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE concat('g', CAST(id % 13 AS STRING)) END AS grp",
        "CAST((id * 37) % 101 AS INT) AS score",  # many ties
    ).repartition(8)
    got = sorted(
        ((r.grp, r.id, r.score, r["rank"])
         for r in top_k_per_group(df, ["grp"], "score", 5, tie_col="id").collect()),
        key=lambda t: (t[0] or "", t[3]))
    w = Window.partitionBy("grp").orderBy(F.col("score").desc(), F.col("id").asc())
    want = sorted(
        ((r.grp, r.id, r.score, r["rank"])
         for r in df.withColumn("rank", F.row_number().over(w))
         .where(F.col("rank") <= 5).collect()),
        key=lambda t: (t[0] or "", t[3]))
    assert got == want
    assert len(got) == 14 * 5  # 13 groups + the NULL group, all full


def test_top_k_per_group_small_groups(spark):
    from geotrellis_server_spark.operators.text import top_k_per_group

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 3, 5)], "grp string, id int, score int")
    out = top_k_per_group(df, ["grp"], "score", 10, tie_col="id").collect()
    assert len(out) == 3  # k > group size keeps everything
    ranks = {(r.grp, r.id): r["rank"] for r in out}
    assert ranks[("a", 2)] == 1 and ranks[("a", 1)] == 2 and ranks[("b", 3)] == 1


def test_bm25_score_reference(spark):
    import math

    from geotrellis_server_spark.operators.text import bm25_score

    corpus = [
        (0, "scan join scan scan"),
        (1, "join merge sort"),
        (2, "window agg part"),
        (3, "scan the the the the the"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r.doc_id: r.score
           for r in bm25_score(df, ["scan", "join"]).collect()}

    def ref():
        docs = {i: t.split(" ") for i, t in corpus}
        n = len(docs)
        avgdl = sum(len(t) for t in docs.values()) / n
        dfq = {q: sum(1 for t in docs.values() if q in t) for q in ("scan", "join")}
        out = {}
        for i, t in docs.items():
            s = 0.0
            for q in ("scan", "join"):
                tf = t.count(q)
                if tf == 0:
                    continue
                idf = math.log(1 + (n - dfq[q] + 0.5) / (dfq[q] + 0.5))
                s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(t) / avgdl))
            if s:
                out[i] = s
        return out

    want = ref()
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9
    # doc 0 (tf=3, short) must outrank doc 3 (tf=1, long) on 'scan'
    assert got[0] > got[3]


def test_line_dedup_keep_first(spark):
    from geotrellis_server_spark.operators.text import line_dedup_keep_first

    # 4-token lines; doc 0 and doc 1 share a line; doc 2 repeats a line
    # internally; doc 3 is ALL duplicates of doc 0's content
    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),              # lines: "a b c d", "e f g h"
            (1, "a b c d x y z w"),              # first line duplicates doc 0
            (2, "p q r s p q r s"),              # internal duplicate
            (3, "e f g h a b c d"),              # all lines seen in doc 0
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           line_dedup_keep_first(docs, tokens_per_line=4).collect()}
    assert out[0].clean_text == "a b c d e f g h"
    assert out[0].n_lines_kept == 2 and out[0].n_lines_total == 2
    assert out[1].clean_text == "x y z w"      # shared line removed
    assert out[1].n_lines_kept == 1 and out[1].n_lines_total == 2
    assert out[2].clean_text == "p q r s"      # internal repeat removed
    assert 3 not in out                        # fully-duplicate doc vanishes


def test_repeated_span_dedup(spark):
    from geotrellis_server_spark.operators.text import repeated_span_dedup

    # k=3: "c d e" occurs in docs 0 and 2 -> removed from BOTH (ExactSubstr
    # all-occurrences semantics, unlike line dedup's keep-first); doc 3's
    # overlapping internal repeat "m m m" scrubs the whole doc but the doc
    # row SURVIVES with empty text; docs shorter than k carry no window.
    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g"),
            (1, "x y z"),
            (2, "q q c d e r s"),
            (3, "m m m m"),
            (4, "u v"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_span_dedup(docs, k=3).collect()}
    assert len(out) == 5
    assert out[0].clean_text == "a b f g"
    assert out[0].n_tokens_kept == 4 and out[0].n_tokens_total == 7
    assert out[2].clean_text == "q q r s"
    assert out[3].clean_text == "" and out[3].n_tokens_kept == 0
    assert out[1].clean_text == "x y z"        # unique short doc untouched
    assert out[4].clean_text == "u v"          # below k: no window, kept

    # a repeated span LONGER than k is excised exactly (covering windows
    # union to the span), and partitioning never changes the result
    docs2 = spark.createDataFrame(
        [(0, "h1 h2 h3 h4 h5 alpha"), (1, "beta h1 h2 h3 h4 h5 gamma")],
        "doc_id long, text string",
    )
    expect = {0: "alpha", 1: "beta gamma"}
    for n in (1, 7):
        got = {r.doc_id: r.clean_text
               for r in repeated_span_dedup(
                   docs2.repartition(n), k=3).collect()}
        assert got == expect

    with pytest.raises(ValueError):
        repeated_span_dedup(docs, k=0)


def test_dsir_importance(spark):
    from geotrellis_server_spark.operators.text import dsir_importance

    # raw corpus: half "code-like", half "prose-like"; target is pure
    # code-like -> code-like raw docs must get the higher importance
    code = "def fn x return x plus y import spark from table"
    prose = "the cat sat on the warm mat and purred all day"
    raw = spark.createDataFrame(
        [(i, code if i % 2 == 0 else prose) for i in range(20)],
        "doc_id long, text string")
    target = spark.createDataFrame(
        [(100 + i, code) for i in range(5)], "doc_id long, text string")
    out = {r.doc_id: r.logw_q
           for r in dsir_importance(raw, target, n_buckets=128).collect()}
    assert len(out) == 20
    assert min(out[i] for i in range(0, 20, 2)) > \
        max(out[i] for i in range(1, 20, 2))

    # partition invariance: exact BIGINT weights, any layout
    out4 = {r.doc_id: r.logw_q
            for r in dsir_importance(raw.repartition(7), target.repartition(3),
                                     n_buckets=128).collect()}
    assert out4 == out


def test_dsir_quantization_margin(spark):
    """The cross-engine guarantee needs every bucket's log-ratio * 2^20 to
    sit AWAY from an integer boundary (a 1-ULP ln() divergence must not
    flip floor()). Check the margin on the real gate corpus + params."""
    import numpy as np

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    B = 512
    hex6 = ("aggregate(sequence(1, 6), 0D, (acc, i) -> acc * 16D + "
            "CAST(instr('0123456789abcdef', substring(md5(g), "
            "CAST(i AS INT), 1)) - 1 AS DOUBLE))")
    gram_expr = (
        "concat(split(text, ' '), transform(sequence(1, "
        "greatest(size(split(text, ' ')) - 1, 0)), i -> "
        "concat(element_at(split(text, ' '), i), ' ', "
        "element_at(split(text, ' '), i + 1))))")
    g = docs.selectExpr("doc_id", f"explode({gram_expr}) AS g").selectExpr(
        "doc_id", f"CAST({hex6} AS BIGINT) % {B} AS b")
    import pandas as pd
    raw = g.groupBy("b").count().toPandas().set_index("b")["count"]
    tgt = (g.where("doc_id % 10 = 0").groupBy("b").count()
           .toPandas().set_index("b")["count"])
    nr, nt = int(raw.sum()), int(tgt.sum())
    ct = tgt.reindex(raw.index).fillna(0).to_numpy()
    cr = raw.to_numpy()
    lr = (np.log(ct + 1) - np.log(float(nt + B))
          - np.log(cr + 1) + np.log(float(nr + B))) * 1048576.0
    margin = np.minimum(lr - np.floor(lr), np.ceil(lr) - lr).min()
    # |lr| <= ~2^24 here; a 1-ULP ln drift moves lr*2^20 by ~2^-28
    assert margin > 1e-6, f"quantization margin too small: {margin}"


def test_ngram_lm_logprob(spark):
    from geotrellis_server_spark.operators.text import ngram_lm_logprob

    # train distribution: "a b" dominates; a doc made of seen bigrams
    # must out-score (higher logprob per bigram) one of unseen bigrams
    train = spark.createDataFrame(
        [(100 + i, "a b a b a b c") for i in range(5)],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(0, "a b a b"),        # all bigrams seen, high-count
         (1, "z q w e"),        # all unseen words
         (2, "a"),              # <2 tokens: zero bigrams, scores 0
         ],
        "doc_id long, text string")
    out = {r.doc_id: r for r in ngram_lm_logprob(docs, train).collect()}
    assert len(out) == 3
    assert out[2].logprob_q == 0 and out[2].n_bigrams == 0
    assert out[0].n_bigrams == 3 and out[1].n_bigrams == 3
    avg0 = out[0].logprob_q / out[0].n_bigrams
    avg1 = out[1].logprob_q / out[1].n_bigrams
    assert avg0 > avg1                   # in-distribution doc scores higher

    # self-trained + partition invariance: exact BIGINT output
    a = {(r.doc_id, r.logprob_q)
         for r in ngram_lm_logprob(docs).collect()}
    b = {(r.doc_id, r.logprob_q)
         for r in ngram_lm_logprob(docs.repartition(4)).collect()}
    assert a == b


def test_top_k_per_group_null_order_ascending(spark):
    """Ascending order: Spark ranks NULL order values FIRST; the
    batch-local prune must agree or NULL rows get dropped (review r5)."""
    from geotrellis_server_spark.operators.text import top_k_per_group

    df = spark.createDataFrame(
        [("g", None, 1), ("g", 5, 2), ("g", 7, 3), ("g", 9, 4)],
        "grp string, v int, id int")
    out = sorted((r.id, r.rank) for r in
                 top_k_per_group(df, ["grp"], "v", k=2, tie_col="id",
                                 descending=False).collect())
    # NULLS FIRST: the NULL row ranks 1, v=5 ranks 2
    assert out == [(1, 1), (2, 2)]


def test_dsir_single_token_docs(spark):
    """Spark sequence(1, 0) is DESCENDING — ungated it indexes past a
    1-token doc's array (found by the 4M-doc scale run, review r5)."""
    from geotrellis_server_spark.operators.text import dsir_importance

    raw = spark.createDataFrame(
        [(0, "solo"), (1, "a b c"), (2, None)], "doc_id long, text string")
    tgt = spark.createDataFrame([(9, "a b")], "doc_id long, text string")
    out = {r.doc_id: r for r in dsir_importance(raw, tgt, 64).collect()}
    assert len(out) == 3                       # every doc, incl. NULL text
    assert out[0].n_feats == 1                 # unigram only
    assert out[2].n_feats == 0 and out[2].logw_q == 0


def _mk_mp3(n=3):
    frames = []
    for i in range(n):
        pad = i % 2
        b = bytes([0xFF, 0xE0 | (3 << 3) | (1 << 1) | 1,
                   (9 << 4) | (0 << 2) | (pad << 1), 3 << 6])
        size = 144 * 128000 // 44100 + pad
        frames.append(b + b"\x00" * (size - 4))
    return b"ID3\x04\x00\x00" + bytes([0, 0, 0, 10]) + b"\x00" * 10 + \
        b"".join(frames)


def _mk_adts(n=2):
    out = []
    for i in range(n):
        size = 7 + 60 + i
        h = bytearray(7)
        h[0], h[1] = 0xFF, 0xF1
        h[2] = (1 << 6) | (3 << 2)
        h[3] = (2 << 6) | ((size >> 11) & 3)
        h[4] = (size >> 3) & 0xFF
        h[5] = ((size & 7) << 5) | 0x1F
        h[6] = 0xFC
        out.append(bytes(h) + b"\x00" * (size - 7))
    return b"".join(out)


def _mk_h264():
    return (b"\x00\x00\x00\x01" + bytes([0x67]) + b"\x11\x22"
            + b"\x00\x00\x01" + bytes([0x68]) + b"\x33"
            + b"\x00\x00\x00\x01" + bytes([0x65]) + b"\xAA\xBB"
            + b"\x00\x00\x01" + bytes([0x41]) + b"\xDD")


def test_tfidf_top_terms(spark):
    import math

    from geotrellis_server_spark.operators.text import tfidf_top_terms

    docs = [(1, "a a rare b"), (2, "a b b common"), (3, "a c c c")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_id, r.rank): (r.term, r.score_q)
           for r in tfidf_top_terms(df, k=2).collect()}
    S = 1 << 20
    q = lambda n, d: math.floor(math.log(n / d) * S)
    # doc 1: rare (1*ln3), b (1*ln(3/2)), a (2*ln(3/3)=0) -> top2
    assert got[(1, 1)] == ("rare", q(3, 1))
    assert got[(1, 2)] == ("b", q(3, 2))
    # doc 3: c tf=3 dominates; then a scores 0
    assert got[(3, 1)] == ("c", 3 * q(3, 1))
    assert got[(3, 2)] == ("a", 0)
    # corpus-wide term ('a', df=N) scores exactly 0, still ranked
    with __import__("pytest").raises(ValueError):
        tfidf_top_terms(df, k=0)


def _ref_winnow(text, k, w):
    import hashlib

    toks = text.split(" ")
    grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:13], 16) for g in grams]
    lw = min(w, len(hs))
    out = set()
    for j in range(max(len(hs) - w + 1, 1)):
        win = hs[j:j + lw]
        m = min(win)
        # rightmost occurrence of the minimum
        pos = j + lw - 1 - win[::-1].index(m)
        out.add((pos + 1, m))  # 1-based
    return out


def test_winnow_matches_scalar_reference(spark):
    from geotrellis_server_spark.operators.text import winnow_fingerprints

    docs = [(1, "a b c d e f g h i j k"),
            (2, "x y z w"),           # exactly k tokens -> one window
            (3, "q r s"),             # < k tokens -> nothing
            (4, "m m m m m m m m")]   # all-equal hashes -> tie rule
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(df, k=4, w=4).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    for i, t in docs:
        ref = _ref_winnow(t, 4, 4) if len(t.split(" ")) >= 4 else set()
        assert got.get(i, set()) == ref, i


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """The paper's guarantee: a shared token run of >= k + w - 1 tokens
    forces at least one COMMON selected fingerprint."""
    from geotrellis_server_spark.operators.text import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 = k + w - 1
    docs = [(1, "p q r s " + shared + " t u"),
            (2, shared + " zz yy xx ww vv")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = winnow_fingerprints(df, k=4, w=4).collect()
    fps = {}
    for r in rows:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2], "shared run must share a fingerprint"


def test_winnow_containment_catches_quoted_doc(spark):
    from geotrellis_server_spark.operators.text import (
        winnow_containment_pairs)

    quote = "one two three four five six seven eight nine ten"
    docs = [(1, quote),
            (2, "intro words here " + quote + " closing remarks follow "
                "with much more unrelated content trailing after that"),
            (3, "totally different text about other things entirely "
                "nothing shared with anyone here at all")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.id_a, r.id_b): (r.shared, r.n_a, r.n_b)
           for r in winnow_containment_pairs(df, theta_num=1,
                                             theta_den=2).collect()}
    assert (1, 2) in got          # the quote is contained
    sh, na, nb = got[(1, 2)]
    assert sh * 2 >= min(na, nb) and na < nb
    assert all(3 not in pair for pair in got)  # unrelated doc clean


def test_canonical_url_cross_engine_and_rules(spark):
    import duckdb

    from geotrellis_server_spark.operators.text import canonical_url_expr

    cases = [
        ("HTTP://WWW.Ex.COM:80/a/b/?b=2&a=1#frag", "http://ex.com/a/b?a=1&b=2"),
        ("https://ex.com:443/path/", "https://ex.com/path"),
        ("http://sub.ex.com/", "http://sub.ex.com"),
        ("http://ex.com?x=1", "http://ex.com?x=1"),
        ("https://Ex.Com/CasePath?z=9&y=8&x=7#x",
         "https://ex.com/CasePath?x=7&y=8&z=9"),
    ]
    sp = [r[0] for r in spark.createDataFrame(
        [(u,) for u, _ in cases], "u string")
        .selectExpr(canonical_url_expr("u", "spark")).collect()]
    du = [r[0] for r in duckdb.sql(
        f"SELECT {canonical_url_expr('u', 'duckdb')} FROM (SELECT "
        f"unnest({[u for u, _ in cases]!r}) AS u)").fetchall()]
    for (_, want), s, d in zip(cases, sp, du):
        assert s == want and d == want


def test_url_dedup_groups_collapses_variants(spark):
    from geotrellis_server_spark.operators.text import url_dedup_groups

    docs = [(1, "see http://www.Ex.com:80/a/?b=2&a=1 now"),
            (2, "ref https://ex.com/a, ok"),     # different scheme!
            (3, "and http://ex.com/a?a=1&b=2."),
            (4, "x http://other.com/q y")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.canon_url: (r.n_refs, r.survivor_id)
           for r in url_dedup_groups(df).collect()}
    assert got["http://ex.com/a?a=1&b=2"] == (2, 1)   # docs 1 + 3
    assert got["https://ex.com/a"] == (1, 2)           # scheme differs
    assert got["http://other.com/q"] == (1, 4)


def test_pmi_pairs_scores_collocation(spark):
    import math

    from geotrellis_server_spark.operators.text import pmi_pairs

    # "new york" always adjacent; "a b" co-occur but both are everywhere
    docs = [(i, "new york a b c" + (" a" if i % 2 else " b"))
            for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.pair: (r.c_xy, r.pmi_q) for r in pmi_pairs(
        df, window=3, min_count=5).collect()}
    assert "new york" in got and got["new york"][0] == 10
    # the exclusive pair outranks the promiscuous one
    assert got["new york"][1] > got["a b"][1]
    import pytest

    with pytest.raises(ValueError):
        pmi_pairs(df, window=1)


def test_gopher_rules_each_rule_fires(spark):
    from geotrellis_server_spark.operators.text import gopher_rules

    good = "the quick brown fox jumps over that lazy dog with vigor and grace today"
    docs = [
        (1, good),                                     # passes everything
        (2, "too short that the"),                     # word count < 8
        (3, "a b c d e f g h i j k l the of"),         # mean word len < 3
        (4, good + " # # # # # # # # # #"),            # symbol ratio > 0.1
        (5, "- one\n- two\n- three\n- four\nplain the that line here now ok"),  # 4/5 bullet lines still <= 90%
        (6, "- a1\n- b2\n- c3\n- d4\n- e5\n- f6\n- g7\n- h8\n- i9\n- j10\n* k11\nthe that good line"),
        (7, good.replace("the", "12345").replace("that", "67890")
             .replace("with", "11111").replace("and", "22222")),  # stopwords < 2
        (8, "one... two... three... the end that is here now...\nmore... text... the that\nclean line here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_rules(df, min_words=8).collect()}
    assert got[1].keep
    assert not got[2].ok_word_count and not got[2].keep
    assert not got[3].ok_word_len
    assert not got[4].ok_symbols
    assert got[5].ok_bullets                    # 4 of 5 lines = 80% <= 90%
    assert not got[6].ok_bullets                # 11 of 12 lines > 90%
    assert not got[7].ok_stopwords
    # doc 8: ellipsis-ended LINES = 1 of 3 (33% > 30% -> fails) and six
    # '...' occurrences count as symbols (6*10 > 16 words -> fails too)
    assert not got[8].ok_ellipsis
    assert got[8].n_symbols == 6 and not got[8].ok_symbols
    # exact integer signal checks on the clean doc
    assert got[1].n_words == 14
    assert got[1].n_stop_hits >= 2


def test_c4_line_rules_battery(spark):
    from geotrellis_server_spark.operators.text import c4_line_rules

    rows = [
        # doc 1: three clean sentences -> kept
        (1, 0, "alpha beta gamma delta epsilon."),
        (1, 1, "one two three four five six!"),
        (1, 2, "does this line have five words?"),
        (1, 3, "too short."),                      # <5 words
        (1, 4, "no terminal punctuation five words here"),
        (1, 5, "we use cookie consent banners today."),  # policy
        # doc 2: enough lines but lorem ipsum -> dropped
        (2, 0, "alpha beta gamma delta epsilon."),
        (2, 1, "one two three four five six."),
        (2, 2, "lorem ipsum dolor sit amet friend."),
        # doc 3: brace -> dropped
        (3, 0, "alpha beta gamma delta epsilon."),
        (3, 1, "code block follows right now { here."),
        (3, 2, "one two three four five six."),
        (3, 3, "seven eight nine ten eleven twelve."),
        # doc 4: only two kept lines -> dropped
        (4, 0, "alpha beta gamma delta epsilon."),
        (4, 1, "one two three four five six."),
        (4, 2, "short."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, line_no int, line string")
    out = {r.doc_id: r for r in c4_line_rules(df).collect()}
    assert out[1].keep and out[1].n_kept == 3 and out[1].n_lines == 6
    assert not out[2].keep and out[2].has_lorem
    assert not out[3].keep and out[3].has_brace and out[3].n_kept == 4
    assert not out[4].keep and out[4].n_kept == 2
    # fingerprint covers exactly the kept lines in order
    import hashlib
    want = hashlib.md5("|".join([rows[0][2], rows[1][2], rows[2][2]])
                       .encode()).hexdigest()
    assert out[1].clean_md5 == want


def test_c4_line_rules_no_kept_lines_md5_empty(spark):
    from geotrellis_server_spark.operators.text import c4_line_rules
    import hashlib

    df = spark.createDataFrame([(9, 0, "short.")],
                               "doc_id long, line_no int, line string")
    out = c4_line_rules(df).collect()[0]
    assert out.n_kept == 0 and not out.keep
    assert out.clean_md5 == hashlib.md5(b"").hexdigest()


def test_fineweb_rules_battery(spark):
    from geotrellis_server_spark.operators.text import fineweb_rules

    long_p = "this line is comfortably longer than thirty characters."
    long_n = "this line is comfortably longer than thirty characters too"
    rows = (
        # doc 1: clean — all long, punctuated, unique
        [(1, f"{long_p[:-1]} variant {i}.") for i in range(10)]
        # doc 2: no punctuation anywhere → punct ratio 0 < 0.12
        + [(2, f"{long_n} variant {i}") for i in range(10)]
        # doc 3: one line repeated 5 of 10 → dup chars 50% > 10%
        + [(3, long_p)] * 5 + [(3, f"{long_p[:-1]} v{i}.") for i in range(5)]
        # doc 4: 8 of 10 lines short → 0.8 > 0.67
        + [(4, f"short {i}.") for i in range(8)]
        + [(4, f"{long_p[:-1]} v{i}.") for i in range(2)]
    )
    df = spark.createDataFrame(rows, "doc_id long, line string")
    out = {r.doc_id: r for r in fineweb_rules(df).collect()}
    assert out[1].keep
    assert not out[2].keep and not out[2].ok_punct and out[2].ok_dup
    assert not out[3].keep and not out[3].ok_dup and out[3].ok_punct
    assert not out[4].keep and not out[4].ok_short
    assert out[3].n_lines == 10 and out[3].dup_chars == 5 * len(long_p)
