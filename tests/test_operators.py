"""Unit tests for operator building blocks on tiny hand-computed
fixtures (SURVEY.md §5: non-SQL-expressible ops get pytest oracles)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdataamazon_spark.functions.cleaning import clean_numeric, fill_then_clip
from bigdataamazon_spark.functions.text import tokens, word_ngrams
from bigdataamazon_spark.operators.stemming import porter_stem
from bigdataamazon_spark.operators import similarity


def test_clean_numeric_reference_cases(spark):
    # the dirty-string shapes from FIXTURES.md §A (currency, separators, junk)
    df = spark.createDataFrame(
        [("₹1,299",), ("4.3",), ("1,23,456",), ("Get",), ("",), (None,)], ["s"]
    )
    got = [r.v for r in df.select(clean_numeric("s").alias("v")).collect()]
    assert got == [1299.0, 4.3, 123456.0, None, None, None]


def test_clean_numeric_integer_mode(spark):
    df = spark.createDataFrame([("4.3",)], ["s"])
    got = df.select(clean_numeric("s", allow_decimal=False).alias("v")).collect()
    assert got[0].v == 43.0  # '.' stripped, reference's allow_decimal=False path


def test_fill_then_clip_order(spark):
    # fill(0) BEFORE clip, amazon1.py:89 — null becomes 0, then clip keeps 0
    df = spark.createDataFrame([(None,), (150.0,), (-3.0,), (42.0,)], "v double")
    got = [r.o for r in df.select(fill_then_clip("v", 0.0, 0.0, 100.0).alias("o")).collect()]
    assert got == [0.0, 100.0, 0.0, 42.0]


def test_word_ngrams_edges(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",), ("a",), ("",)], ["t"])
    out = df.select(word_ngrams(tokens(F.col("t")), 3).alias("g")).collect()
    assert out[0].g == ["a b c", "b c d"]
    assert out[1].g == []
    assert out[2].g == []
    assert out[3].g == []


def test_stem_rules():
    # step 1a (the original plural rules) still hold under full Porter
    assert porter_stem("caresses") == "caress"
    assert porter_stem("ponies") == "poni"
    assert porter_stem("caress") == "caress"
    assert porter_stem("cats") == "cat"
    assert porter_stem("s") == "s"
    assert porter_stem("run") == "run"
    # full-algorithm cases (the reference's own docstring example first)
    assert porter_stem("running") == "run"
    assert porter_stem("relational") == "relat"
    assert porter_stem("conditional") == "condit"
    assert porter_stem("rational") == "ration"
    assert porter_stem("happy") == "happi"
    assert porter_stem("sky") == "sky"
    assert porter_stem("controll") == "control"
    assert porter_stem("generalization") == "gener"
    assert porter_stem("sensibiliti") == "sensibl"
    assert porter_stem("adoption") == "adopt"
    assert porter_stem("cease") == "ceas"


def test_lsh_recall_on_planted_neardups(spark, sf_correctness):
    """The approx path must find the exact path's high-cosine pairs for
    its top-1 neighbors at reasonable parameters."""
    from bigdataamazon_spark.catalog import load_table

    emb = load_table(spark, sf_correctness, "embeddings")
    exact = similarity.cosine_topk(emb, k=1)
    approx = similarity.cosine_topk_approx(emb, k=1, n_planes=16, bands=8)
    e = {(r.src, r.dst) for r in exact.collect()}
    a = {(r.src, r.dst) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH top-1 recall too low: {recall}"


def test_ivf_recall_vs_exact(spark, sf_correctness):
    """IVF with nprobe=4 of 16 clusters must recover most exact top-1
    neighbors (data-adaptive buckets beat LSH on clustered embeddings)."""
    from bigdataamazon_spark.catalog import load_table

    emb = load_table(spark, sf_correctness, "embeddings")
    exact = similarity.cosine_topk(emb, k=1)
    approx = similarity.ivf_topk(emb, k=1, n_clusters=16, nprobe=4)
    e = {(r.src, r.dst) for r in exact.collect()}
    a = {(r.src, r.dst) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"IVF top-1 recall too low: {recall}"


def test_ivf_fit_centroids_local_deterministic_and_useful(spark, sf_correctness):
    """r10: cosine_topk_ivf's quantizer is re-fit per invocation with a
    driver-local seeded Lloyd's (the module-level Spark-KMeans memo was
    the VERDICT r09 #8 integrity gap). Pin: (a) deterministic — two fits
    return bit-identical centroids; (b) the resulting IVF recall@5 at
    nprobe=4 clears the audit flag's 0.5 contract with margin."""
    import numpy as np

    from bigdataamazon_spark.catalog import load_table

    emb = load_table(spark, sf_correctness, "embeddings")
    c1 = similarity.ivf_fit_centroids_local(emb, n_clusters=16, seed=42)
    c2 = similarity.ivf_fit_centroids_local(emb, n_clusters=16, seed=42)
    assert c1.shape == (16, 64)
    assert np.array_equal(c1, c2)
    exact = similarity.cosine_topk(emb, k=5)
    approx = similarity.ivf_topk(emb, k=5, centroids=c1, nprobe=4)
    e = {(r.src, r.dst) for r in exact.collect()}
    a = {(r.src, r.dst) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"local-quantizer IVF recall@5 too low: {recall}"


def test_ivf_fit_centroids_local_empty_corpus(spark):
    """An empty embeddings frame fits no centroids (k-means++ used to
    draw from zero rows), and IVF search over it returns no rows."""
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    centroids = similarity.ivf_fit_centroids_local(emb)
    assert centroids.shape[0] == 0
    assert similarity.ivf_topk(emb, k=5, centroids=centroids).count() == 0


def test_als_stats_thread_error_surfaces(spark, sf_dir, monkeypatch):
    """The baseline-stats job runs in a driver thread beside the ALS fit;
    its exception reaches the caller instead of a KeyError on the
    missing result."""
    import pytest

    from bigdataamazon_spark import queries

    class StatsFailed(RuntimeError):
        pass

    def boom(*_args, **_kwargs):
        raise StatsFailed("baseline stats")

    monkeypatch.setattr(queries.F, "sqrt", boom)  # the stats job is its first caller
    with pytest.raises(StatsFailed):
        queries.queries()["als_factorization_audit"](spark, sf_dir)


def test_countvectorizer_matches_posting_counts(spark, sf_dir):
    """M4 (``amazon1.py:133-135``): the long-form (doc, word, count)
    relation used by bow_cosine_topk must agree with ml.CountVectorizer's
    SparseVector output — same bag-of-words, two physical layouts."""
    from pyspark.ml.feature import CountVectorizer
    from pyspark.sql import functions as F

    from bigdataamazon_spark.catalog import load_table
    from bigdataamazon_spark.functions import text

    docs = load_table(spark, sf_dir, "documents").limit(100)
    toks = docs.select(
        "doc_id", text.remove_stopwords(text.tokens(F.col("text"))).alias("toks")
    )
    cv = CountVectorizer(inputCol="toks", outputCol="vec", vocabSize=1 << 18)
    model = cv.fit(toks)
    vocab = model.vocabulary
    sparse = {
        r["doc_id"]: r["vec"] for r in model.transform(toks).collect()
    }
    posting = (
        docs.select("doc_id", F.explode(text.remove_stopwords(text.tokens(F.col("text")))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    expect: dict = {}
    for r in posting:
        expect.setdefault(r["doc_id"], {})[r["word"]] = r["c"]
    for doc_id, vec in sparse.items():
        got = {vocab[int(i)]: int(v) for i, v in zip(vec.indices, vec.values)}
        assert got == expect.get(doc_id, {}), f"doc {doc_id} mismatch"


def test_similarity_auto_heuristic_small(spark, sf_dir):
    from bigdataamazon_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.similarity_topk_auto(emb, k=3)
    # exact path: every vector has exactly 3 neighbors
    counts = out.groupBy("src").count().select("count").distinct().collect()
    assert [r["count"] for r in counts] == [3]


def test_posting_cosine_matches_dense_and_caps_hot_words(spark):
    """posting_cosine_topk (inverted-index plan) must agree with the
    numpy cosine on a handcrafted counts table; with max_df_frac the
    near-universal word leaves the vector space entirely (CountVectorizer
    max_df semantics), changing scores to the reduced-space cosine."""
    import itertools
    import math

    # 4 docs over 3 words; "hot" appears in every doc
    counts = {
        1: {"hot": 2, "x": 1},
        2: {"hot": 1, "x": 1, "y": 3},
        3: {"hot": 5, "y": 1},
        4: {"hot": 1, "x": 2, "y": 2},
    }
    rows = [(d, w, c) for d, wc in counts.items() for w, c in wc.items()]
    cnt = spark.createDataFrame(rows, ["doc_id", "word", "c"])

    def expected(vocab_filter):
        out = {}
        for s, d in itertools.permutations(counts, 2):
            a, b = counts[s], counts[d]
            words = [w for w in {"hot", "x", "y"} if vocab_filter(w)]
            dot = sum(a.get(w, 0) * b.get(w, 0) for w in words)
            na = math.sqrt(sum(a.get(w, 0) ** 2 for w in words))
            nb = math.sqrt(sum(b.get(w, 0) ** 2 for w in words))
            # posting plans emit a pair only when the docs SHARE a word:
            # zero-overlap pairs never appear as edge rows (dot == 0
            # neighbors are meaningless for top-k anyway)
            if dot > 0:
                out[(s, d)] = round(dot / (na * nb), 6)
        return out

    got = {
        (r["src"], r["dst"]): r["score"]
        for r in similarity.posting_cosine_topk(cnt, k=3).collect()
    }
    assert got == expected(lambda w: True)

    # cap at 75%: "hot" (df=4/4) is pruned, x (2/4) and y (3/4) stay
    got_cap = {
        (r["src"], r["dst"]): r["score"]
        for r in similarity.posting_cosine_topk(cnt, k=3, max_df_frac=0.75).collect()
    }
    assert got_cap == expected(lambda w: w != "hot")

    # ABSOLUTE cap (the domain-skew knob): df > 3 prunes hot (df=4)
    # even when a fractional cap would keep it — identical reduced space
    got_abs = {
        (r["src"], r["dst"]): r["score"]
        for r in similarity.posting_cosine_topk(cnt, k=3, max_df=3).collect()
    }
    assert got_abs == expected(lambda w: w != "hot")
    # both caps compose as a UNION of pruned sets: frac=0.9 alone prunes
    # hot (4/4), max_df=2 alone prunes everything (min df is 3) — so the
    # combination empties the space even though neither filter targets
    # x/y via the fraction
    got_both = similarity.posting_cosine_topk(
        cnt, k=3, max_df_frac=0.9, max_df=2
    ).count()
    assert got_both == 0


def test_int8_quantization_roundtrip(spark, sf_dir):
    """Quantize -> dequantize must reconstruct within the quantization
    step (scale/127 per component), and values must be int8-ranged."""
    from pyspark.sql import functions as F

    from bigdataamazon_spark.catalog import load_table
    from bigdataamazon_spark.functions import vector

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    v = vector.as_double_array("embedding")
    ma = vector.max_abs(v)
    q = emb.select(
        "vec_id",
        v.alias("v"),
        ma.alias("ma"),
        vector.quantize_int8(v, ma).alias("q8"),
    ).withColumn("back", vector.dequantize_int8(F.col("q8"), F.col("ma")))
    rows = q.collect()
    assert len(rows) == 50
    for r in rows:
        assert all(-127 <= x <= 127 for x in r.q8)
        step = r.ma / 127.0
        assert all(abs(a - b) <= step / 2 + 1e-9 for a, b in zip(r.v, r.back))


def test_sketch_aggregates_near_exact(spark, sf_dir):
    """HLL distinct and KLL quantiles land within loose rel-error of the
    exact answers (the contract a sketch offers; exact parity is
    impossible by construction). Since the r07 drain the entry itself
    emits the tolerance verdicts as contract flags next to exact values
    — assert every flag holds and the exact columns really are exact."""
    from pyspark.sql import functions as F

    from bigdataamazon_spark import queries as registry
    from bigdataamazon_spark.catalog import load_table

    got = {
        r.o_orderpriority: r
        for r in registry.queries()["approx_order_stats"](spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    exact = {
        r.o_orderpriority: r
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("d"),
            F.expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").alias("q"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for k, e in exact.items():
        g = got[k]
        assert g.hll_within_5pct and g.kll_within_1pt
        assert g.exact_customers == e.d
        for a, b in zip((g.price_p50, g.price_p90, g.price_p99), e.q):
            assert abs(a - b) <= 1e-4 * max(1.0, abs(b))  # round(.,4) only


def test_merge_upsert_semantics(spark):
    from bigdataamazon_spark.operators.relational import merge_upsert

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    chg = spark.createDataFrame([(2, "B"), (9, "Z")], "k int, v string")
    got = {(r.k, r.v) for r in merge_upsert(snap, chg, ["k"]).collect()}
    # matched key updated, unmatched kept, new key inserted
    assert got == {(1, "a"), (2, "B"), (3, "c"), (9, "Z")}


def test_merge_upsert_never_shuffles_snapshot(spark, sf_correctness):
    from bigdataamazon_spark.catalog import load_table
    from bigdataamazon_spark.operators.relational import merge_upsert
    from bigdataamazon_spark.plans import executed_plan

    o = load_table(spark, sf_correctness, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    chg = o.filter(F.col("o_orderkey") % 100 == 0)
    plan = executed_plan(merge_upsert(o, chg, ["o_orderkey"]))
    # change keys broadcast into an anti probe; the snapshot side must
    # not hash-partition (only the tiny keys-distinct side may exchange)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_referential_audit_flags_planted_orphans(spark):
    from bigdataamazon_spark.operators.relational import referential_audit

    child = spark.createDataFrame([(1,), (2,), (99,)], "ck int")
    parent = spark.createDataFrame([(1,), (2,)], "pk int")
    rows = referential_audit(
        [("child->parent", child, "ck", parent, "pk"),
         ("parent->parent", parent, "pk", parent, "pk")]
    ).collect()
    got = {r.fk: r.orphans for r in rows}
    # one planted orphan found; the clean edge still reports a zero row
    assert got == {"child->parent": 1, "parent->parent": 0}


def test_hourly_gapfill_fills_gaps_and_forward_fills(spark, sf_dir):
    from bigdataamazon_spark.queries import queries

    rows = queries()["events_hourly_gapfill"](spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    hours = {len(v) for v in by_type.values()}
    # dense grid: every type covers the identical full hour range
    assert len(hours) == 1
    zeros = [r for r in rows if r.n_events == 0]
    assert zeros, "sf0.001 events have silent hours; grid must surface them"
    # forward fill: a zero-count hour after any observation carries a value
    for rs in by_type.values():
        seen = False
        for r in rs:  # collect preserves the ORDER BY (type, hr)
            if r.n_events > 0:
                seen = True
            if seen:
                assert r.avg_value_ff is not None


def test_equidepth_buckets_balanced(spark, sf_dir):
    from bigdataamazon_spark.queries import queries

    rows = queries()["order_price_equidepth"](spark, sf_dir).collect()
    assert [r.bucket for r in rows] == list(range(1, 9))
    sizes = [r.n for r in rows]
    assert max(sizes) - min(sizes) <= 1  # ntile guarantee
    # spans are ordered and non-overlapping
    for a, b in zip(rows, rows[1:]):
        assert a.hi <= b.lo


def test_neardup_canonical_picks_longest(spark, sf_dir):
    from bigdataamazon_spark.catalog import load_table
    from bigdataamazon_spark.queries import queries

    reps = queries()["neardup_canonical_docs"](spark, sf_dir).collect()
    assert reps, "sf0.001 documents contain near-dup clusters"
    clusters = {
        r.doc_id: r.cluster_id
        for r in queries()["neardup_clusters"](spark, sf_dir).collect()
    }
    chars = {
        r.doc_id: r.n_chars
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "n_chars").collect()
    }
    for r in reps:
        assert r.cluster_sz >= 2  # singletons never form a cluster row
        members = [d for d, c in clusters.items() if c == r.cluster_id]
        assert r.rep_doc_id in members
        assert r.rep_n_chars == max(chars[d] for d in members)


def test_retention_cohort_offsets_start_at_zero(spark, sf_dir):
    from bigdataamazon_spark.queries import queries

    rows = queries()["signup_retention_cohorts"](spark, sf_dir).collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_week, []).append(r)
    for cohort, rs in by_cohort.items():
        offs = sorted(r.week_offset for r in rs)
        assert offs[0] == 0  # every cohort is active in its own first week
        # retention can only count users who existed at offset 0
        base = next(r.n_users for r in rs if r.week_offset == 0)
        assert all(r.n_users <= base for r in rs)


def test_scd2_intervals_contiguous_and_compressed(spark, sf_dir):
    from bigdataamazon_spark.queries import queries

    rows = queries()["user_state_scd2"](spark, sf_dir).collect()
    assert rows
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, rs in by_user.items():
        assert [r.version for r in rs] == list(range(1, len(rs) + 1))
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from  # contiguous, no gaps/overlap
            assert a.event_type != b.event_type  # change-compressed
        assert rs[-1].valid_to is None  # current state stays open


def test_pagerank_tiny_graph_matches_hand_rolled(spark):
    from bigdataamazon_spark.operators.graph import pagerank

    # star graph: a->b, a->c (equal weight), b->a, c->a
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
        ["src", "dst", "w"],
    )
    got = {r.node: r.rank for r in pagerank(edges, weight="w", iters=5).collect()}
    # replay the same fixed-iteration recurrence in plain python
    ranks = {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3}
    for _ in range(5):
        mass = {"a": ranks["b"] + ranks["c"], "b": ranks["a"] / 2, "c": ranks["a"] / 2}
        ranks = {k: 0.15 / 3 + 0.85 * mass[k] for k in ranks}
    for k in ranks:
        assert abs(got[k] - ranks[k]) < 1e-12
    assert got["b"] == got["c"]  # symmetric spokes tie exactly


def test_split_assignment_partitions_corpus(spark, sf_dir):
    from bigdataamazon_spark.catalog import load_table
    from bigdataamazon_spark.queries import queries

    rows = queries()["docs_split_assignment"](spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == total  # exhaustive, no drops
    by_split = {}
    for r in rows:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    assert set(by_split) == {"train", "valid", "test"}
    assert 0.7 < by_split["train"] / total < 0.9
    assert by_split["valid"] / total < 0.2 and by_split["test"] / total < 0.2


def test_tfidf_keywords_ranked_and_positive(spark, sf_dir):
    from bigdataamazon_spark.queries import queries

    rows = queries()["tfidf_doc_keywords"](spark, sf_dir).collect()
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for rs in by_doc.values():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(s >= 0 for s in scores)  # idf >= 0 when df <= N


def test_unpivot_preserves_row_counts(spark, sf_dir):
    from bigdataamazon_spark.catalog import load_table
    from bigdataamazon_spark.queries import queries

    rows = queries()["lineitem_measures_unpivot"](spark, sf_dir).collect()
    n_li = load_table(spark, sf_dir, "lineitem").count()
    assert {r.measure for r in rows} == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    }
    assert all(r.n == n_li for r in rows)
    disc = next(r for r in rows if r.measure == "l_discount")
    assert 0.0 <= disc.lo <= disc.hi <= 1.0


def test_html_strip_removes_all_markup(spark, sf_dir):
    from bigdataamazon_spark.queries import queries

    rows = queries()["html_strip_docs"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_tags == 6  # h1, /h1, p, b, /b, /p — the injected set
        assert r.clean_head.startswith(f"Doc {r.doc_id} ")
        # decoded entities survive; tag text does not
        assert "<h1" not in r.clean_head and "<p>" not in r.clean_head


def test_spearman_bounded_and_mode_is_argmax(spark, sf_dir):
    from bigdataamazon_spark.catalog import load_table
    from bigdataamazon_spark.queries import queries
    from pyspark.sql import functions as F

    rho = queries()["quantity_price_spearman"](spark, sf_dir).collect()[0]
    assert -1.0 <= rho.spearman_rho <= 1.0
    assert rho.n == load_table(spark, sf_dir, "lineitem").count()

    modes = queries()["priority_status_mode"](spark, sf_dir).collect()
    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    best = {}
    for r in counts:
        cur = best.get(r.o_orderpriority)
        key = (-r.cnt, r.o_orderstatus)
        if cur is None or key < cur[0]:
            best[r.o_orderpriority] = (key, r.o_orderstatus, r.cnt)
    for m in modes:
        _, status, cnt = best[m.o_orderpriority]
        assert (m.mode_status, m.n) == (status, cnt)


def test_perplexity_scores_identities(spark, sf_dir):
    from bigdataamazon_spark.catalog import load_table
    from bigdataamazon_spark.queries import queries

    rows = queries()["doc_perplexity_scores"](spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs  # every doc scored
    import math
    for r in rows:
        # entropy bounded by log of the doc's token count (uniform case);
        # both sides rounded to 6 decimals, so allow that granularity
        assert 0.0 <= r.self_entropy <= math.log(r.n_tokens) + 1e-6
        # the corpus model can never beat the doc's own distribution
        assert r.unigram_nll >= r.self_entropy - 1e-6


def test_copurchase_lift_consistency(spark, sf_dir):
    from bigdataamazon_spark.queries import queries

    rows = queries()["copurchase_part_lift"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.part_a < r.part_b  # canonical pair order, no mirrors
        assert r.n_both >= 2 and r.support > 0 and r.lift > 0
    ns = [r.n_both for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_mom_growth_first_month_null_and_ratio(spark, sf_dir):
    from bigdataamazon_spark.queries import queries

    rows = queries()["orders_mom_growth"](spark, sf_dir).collect()
    assert rows[0].mom_growth is None
    for prev, cur in zip(rows, rows[1:]):
        assert cur.mom_growth is not None
        expect = cur.revenue / prev.revenue - 1.0
        assert abs(cur.mom_growth - expect) < 1e-4  # rounded revenue drift only


def test_prefix_filter_candidates_lossless(spark, sf_dir):
    """Prefix filtering must yield the IDENTICAL pair set as the direct
    co-shingle join — it is a candidate-pruning rewrite, not an
    approximation (AllPairs guarantee)."""
    from bigdataamazon_spark.catalog import load_table
    from bigdataamazon_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    sids = dedup.shingle_ids(dedup.doc_shingles(docs, distinct=False), distinct=False)
    direct = {
        (r.src, r.dst, r.jaccard)
        for r in dedup.exact_jaccard_pairs(sids, 0.5).collect()
    }
    cands = dedup.prefix_filter_candidates(sids, 0.5)
    filtered = {
        (r.src, r.dst, r.jaccard)
        for r in dedup.exact_jaccard_pairs(sids, 0.5, candidates=cands).collect()
    }
    assert direct == filtered and direct


def test_weighted_sample_biased_toward_heavy_and_deterministic(spark, sf_dir):
    from bigdataamazon_spark.catalog import load_table
    from bigdataamazon_spark.operators.sampling import weighted_sample
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    s1 = [r.doc_id for r in weighted_sample(docs, 50, "doc_id", "n_chars").collect()]
    s2 = [r.doc_id for r in weighted_sample(docs, 50, "doc_id", "n_chars").collect()]
    assert sorted(s1) == sorted(s2)  # retry-deterministic
    corpus_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
    sample_mean = (
        docs.join(spark.createDataFrame([(d,) for d in s1], ["doc_id"]), "doc_id")
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    # length-weighting must over-represent long documents
    assert sample_mean > corpus_mean


def test_snapshot_diff_classes_on_tiny_fixture(spark):
    from bigdataamazon_spark.operators.relational import snapshot_diff

    before = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)], "k bigint, v string"
    )
    after = spark.createDataFrame(
        [(2, "b"), (3, "CHANGED"), (4, None), (5, "new")], "k bigint, v string"
    )
    got = {r.k: r.change for r in snapshot_diff(before, after, ["k"]).collect()}
    assert got == {
        1: "removed",
        2: "unchanged",
        3: "updated",
        4: "unchanged",  # null payloads hash equal, not 'updated'
        5: "added",
    }


def test_ml_minhash_recall_vs_exact_token_jaccard(spark, sf_dir):
    """The built-in MinHashLSH path must recover most pairs the exact
    unigram-shingle Jaccard join finds at the same threshold (both are
    token-SET Jaccard), and must never report a pair below threshold."""
    from bigdataamazon_spark.catalog import load_table
    from bigdataamazon_spark.operators import dedup, similarity

    docs = load_table(spark, sf_dir, "documents")
    sids = dedup.shingle_ids(dedup.doc_shingles(docs, n=1, distinct=False), distinct=False)
    exact = {
        (r.src, r.dst) for r in dedup.exact_jaccard_pairs(sids, 0.5).collect()
    }
    got = {
        (r.src, r.dst): r.jaccard
        for r in similarity.ml_minhash_neardup(docs, 0.5).collect()
    }
    assert all(j >= 0.5 - 1e-6 for j in got.values())
    if exact:
        recall = len(exact & set(got)) / len(exact)
        assert recall >= 0.7, f"ML MinHashLSH recall too low: {recall}"


def test_similarity_auto_switches_to_lsh_at_scale(spark, sf_dir, monkeypatch):
    """The one owned planner heuristic must actually flip: above the
    exact-pairs row bound the auto path must plan LSH (bucketed
    candidates), not the O(n^2) GEMM."""
    from bigdataamazon_spark.catalog import load_table
    from bigdataamazon_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    monkeypatch.setattr(similarity, "EXACT_PAIRS_MAX_ROWS", 10)
    out = similarity.similarity_topk_auto(emb, k=2)
    # LSH output contract: <= k neighbors per src (bucket misses allowed),
    # never the exact path's guaranteed-k-for-all
    counts = [r["count"] for r in out.groupBy("src").count().collect()]
    assert counts and max(counts) <= 2


def test_lsh_bucket_cap_bounds_candidates(spark):
    """Degenerate-bucket fallback: identical vectors all collapse into
    one bucket per band; with the cap the candidate set is the linear
    id-chain (still fully connected for dedup closure), not the
    quadratic all-pairs blow-up."""
    from bigdataamazon_spark.operators.similarity import lsh_candidate_pairs

    n = 40
    vec = [1.0] * 8
    df = spark.createDataFrame(
        [(i, vec) for i in range(n)], "vec_id long, embedding array<double>"
    )
    uncapped = lsh_candidate_pairs(
        df, dim=8, n_planes=8, bands=2, max_bucket_size=None
    ).count()
    assert uncapped == n * (n - 1) // 2
    capped = lsh_candidate_pairs(df, dim=8, n_planes=8, bands=2, max_bucket_size=10)
    rows = capped.collect()
    # chain within each band's single bucket: n-1 distinct adjacent pairs
    assert len(rows) == n - 1
    # transitively connected: union-find over the chain reaches everyone
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        parent[find(r.src)] = find(r.dst)
    assert len({find(i) for i in range(n)}) == 1


def test_bow_auto_routing_flips_without_changing_results(spark, sf_dir):
    """The dense-vs-sparse vocabulary router: below DENSE_VOCAB_MAX the
    plan is the broadcast GEMM (MapInPandas stage); forcing the
    threshold to 0 flips to the posting-list join (no Python stage) —
    and the results are identical either way (same exact cosine)."""
    from pyspark.sql import functions as F

    from bigdataamazon_spark.catalog import load_table
    from bigdataamazon_spark.functions import text
    from bigdataamazon_spark.operators import similarity

    docs = load_table(spark, sf_dir, "documents")
    toks = text.remove_stopwords(text.tokens(F.col("text")))
    cnt = (
        docs.select(F.col("doc_id"), F.explode(toks).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    for tfidf in (False, True):
        dense = similarity.bow_topk_auto(cnt, k=3, tfidf=tfidf)
        sparse = similarity.bow_topk_auto(cnt, k=3, tfidf=tfidf, dense_vocab_max=0)
        dense_plan = dense._jdf.queryExecution().executedPlan().toString()
        sparse_plan = sparse._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in dense_plan
        assert "MapInPandas" not in sparse_plan
        d = {(r.src, r.dst): (r.score, r.rank) for r in dense.collect()}
        s = {(r.src, r.dst): (r.score, r.rank) for r in sparse.collect()}
        assert d == s, f"tfidf={tfidf}: routing changed results"


def test_bow_auto_empty_input_routes_dense_and_returns_empty(spark):
    """ADVICE r09: the one-pass rollup router gets ZERO rows from an
    empty counts table (no grand-total row, unlike the old global agg),
    which crashed rows[0]. Empty input must route (nd=0, nv=0 → dense)
    and return an empty neighbor table, not raise."""
    from bigdataamazon_spark.operators import similarity

    cnt = spark.createDataFrame([], "doc_id bigint, word string, c bigint")
    for tfidf in (False, True):
        out = similarity.bow_topk_auto(cnt, k=3, tfidf=tfidf)
        assert out.count() == 0
        assert set(out.columns) == {"src", "dst", "score", "rank"}


def test_bow_auto_fallback_applies_absolute_df_cap(spark):
    """r06 (VERDICT r05 #3): when the router falls back to the posting
    join, POSTING_FALLBACK_MAX_DF applies by default — hot words leave
    the vector space (reduced-space cosine) so the fallback never
    explodes on near-universal words. fallback_max_df=None restores the
    exact unbounded join; the DENSE path never applies the cap."""
    counts = {
        1: {"hot": 2, "x": 1},
        2: {"hot": 1, "x": 1, "y": 3},
        3: {"hot": 5, "y": 1},
        4: {"hot": 1, "x": 2, "y": 2},
    }
    rows = [(d, w, c) for d, wc in counts.items() for w, c in wc.items()]
    cnt = spark.createDataFrame(rows, ["doc_id", "word", "c"])

    def pairs(df):
        return {(r["src"], r["dst"]): r["score"] for r in df.collect()}

    exact = pairs(similarity.bow_topk_auto(cnt, k=3))  # dense path
    # dense path ignores the cap even when it would prune everything
    assert pairs(similarity.bow_topk_auto(cnt, k=3, fallback_max_df=1)) == exact
    # fallback path, cap wide enough: identical exact cosine
    assert (
        pairs(similarity.bow_topk_auto(cnt, k=3, dense_vocab_max=0, fallback_max_df=4))
        == exact
    )
    # fallback path, cap prunes "hot" (df=4 > 3): reduced-space cosine ==
    # the posting operator's own max_df semantics
    capped = pairs(
        similarity.bow_topk_auto(cnt, k=3, dense_vocab_max=0, fallback_max_df=3)
    )
    assert capped == pairs(similarity.posting_cosine_topk(cnt, k=3, max_df=3))
    assert capped != exact
    # None = exact unbounded posting join
    assert (
        pairs(similarity.bow_topk_auto(cnt, k=3, dense_vocab_max=0, fallback_max_df=None))
        == exact
    )


def test_eps_neighborhood_pairs_routes_and_verifies(spark):
    """r06 (VERDICT r05 #4): the DBSCAN pair stage routes by size —
    exact GEMM under max_rows; above it, banded-LSH candidates with
    exact cosine verification. On a cluster-structured corpus (the
    shape LSH is built for) the scale path must reproduce the exact
    edge set; every emitted score must be the true cosine."""
    import numpy as np

    rng = np.random.RandomState(7)
    protos = rng.standard_normal((4, 16)) * 5.0
    rows = []
    for i in range(80):
        v = protos[i % 4] + rng.standard_normal(16) * 0.05
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r.src, r.dst): r.score
        for r in similarity.eps_neighborhood_pairs(
            df, threshold=0.9, dim=16
        ).collect()
    }
    # tight clusters: every point pairs with its 19 cluster-mates
    assert len(exact) == 4 * (20 * 19 // 2)
    # max_rows=0 forces the LSH-candidates + exact-rescore path
    approx = {
        (r.src, r.dst): r.score
        for r in similarity.eps_neighborhood_pairs(
            df, threshold=0.9, dim=16, max_rows=0
        ).collect()
    }
    assert approx == exact  # full recall on clustered data, same scores


def test_exact_gemm_guard_trips_above_max_rows(spark, sf_dir):
    """Scale guard lives INSIDE the exact operators: above max_rows the
    broadcast-GEMM path must refuse to collect the corpus to the driver
    (not just when called through the auto wrapper)."""
    import pytest as _pytest

    from bigdataamazon_spark.catalog import load_table
    from bigdataamazon_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="similarity_topk_auto"):
        similarity.cosine_topk(emb, k=2, max_rows=10)
    with _pytest.raises(ValueError, match="not the right physical plan"):
        similarity.cosine_threshold_pairs(emb, threshold=0.4, max_rows=10)
    # explicit escape hatch still works
    assert similarity.cosine_topk(emb.limit(12), k=1, max_rows=None).count() > 0


def test_rolling_wau_bounds(spark, sf_dir):
    from bigdataamazon_spark.queries import queries

    rows = queries()["rolling_wau_7d"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.dau <= r.wau  # today's actives are a subset of the week's
    # wau is monotone-ish vs dau but must never exceed total users
    from bigdataamazon_spark.catalog import load_table
    total = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert max(r.wau for r in rows) <= total


def test_lorenz_monotone_convex_and_complete(spark, sf_dir):
    from bigdataamazon_spark.queries import queries

    rows = queries()["revenue_lorenz_deciles"](spark, sf_dir).collect()
    assert [r.decile for r in rows] == list(range(1, 11))
    shares = [r.cum_revenue_share for r in rows]
    assert abs(shares[-1] - 1.0) < 1e-6  # the top decile closes the curve
    assert all(b >= a for a, b in zip(shares, shares[1:]))  # monotone
    # convexity: ascending-revenue deciles contribute increasing increments
    incr = [shares[0]] + [b - a for a, b in zip(shares, shares[1:])]
    assert all(b >= a - 1e-9 for a, b in zip(incr, incr[1:]))


def test_mean_imputation_preserves_group_mean(spark, sf_dir):
    from bigdataamazon_spark.queries import queries

    rows = queries()["imputed_event_values"](spark, sf_dir).collect()
    assert rows and any(r.n_imputed > 0 for r in rows)
    for r in rows:
        # textbook invariant: filling with the group mean leaves it fixed
        assert abs(r.mean_after_impute - r.mean_observed) < 2e-6


def test_ivf_index_build_serve_roundtrip(spark, sf_correctness, tmp_path):
    """E2/E3 split: building the IVF index as partitioned tables and
    serving from it must agree with the transient IVF path (same
    quantizer seed, same kernel) and recover most exact top-1
    neighbors; the postings layout must be partitioned by cluster so
    probing prunes at the directory level."""
    import os

    from bigdataamazon_spark.catalog import load_table

    emb = load_table(spark, sf_correctness, "embeddings")
    idx = str(tmp_path / "ivf_index")
    similarity.build_ivf_index(emb, idx, n_clusters=16, seed=42)
    assert any(
        p.startswith("cluster_id=")
        for p in os.listdir(os.path.join(idx, "assignments.parquet"))
    )
    served = similarity.ivf_index_topk(spark, idx, emb, k=1, nprobe=4)
    exact = similarity.cosine_topk(emb, k=1)
    e = {(r.src, r.dst) for r in exact.collect()}
    s = {(r.src, r.dst) for r in served.collect()}
    recall = len(e & s) / len(e)
    assert recall >= 0.6, f"index-served recall too low: {recall}"


def test_transition_matrix_rows_are_distributions(spark, sf_dir):
    from bigdataamazon_spark.queries import queries

    rows = queries()["priority_transition_matrix"](spark, sf_dir).collect()
    assert rows
    by_from = {}
    for r in rows:
        by_from.setdefault(r.from_priority, 0.0)
        by_from[r.from_priority] += r.prob
    for f, total in by_from.items():
        assert abs(total - 1.0) < 1e-4, (f, total)  # each row is a distribution


def test_survival_curve_monotone_and_bounded(spark, sf_correctness):
    from bigdataamazon_spark.queries import queries

    # sf0.001's 1000 events are too sparse for per-user error curves;
    # sf0.01 yields a real multi-step curve
    rows = queries()["user_churn_survival"](spark, sf_correctness).collect()
    assert rows
    surv = [r.survival for r in rows]
    assert all(0.0 <= s <= 1.0 for s in surv)
    assert all(b <= a + 1e-9 for a, b in zip(surv, surv[1:]))  # non-increasing
    for r in rows:
        assert r.n_failed <= r.n_at_risk  # deaths bounded by the risk set
    # at-risk counts shrink as duration grows
    risks = [r.n_at_risk for r in rows]
    assert all(b <= a for a, b in zip(risks, risks[1:]))


def test_blocked_fuzzy_pairs_blocking_and_threshold(spark):
    """Same-block candidates verify by bounded levenshtein; cross-block
    near-names are (by design) not found; beyond-threshold pairs drop."""
    from bigdataamazon_spark.operators import linkage

    rows = [
        (1, "cold anvil"),
        (2, "old anvil"),    # dist 1, same block 'anvil'
        (3, "bold anvil"),   # dist 1 of cold, same block
        (4, "cold bolt"),    # other block — never compared to anvils
        (5, "colder anvils"),  # block 'anvils' — near 'cold anvil' but unblocked
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    got = {
        (r["src"], r["dst"]): r["dist"]
        for r in linkage.blocked_fuzzy_pairs(df, "id", "name", max_dist=2).collect()
    }
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1}


def test_blocked_fuzzy_pairs_degenerate_block_chains(spark):
    """A block wider than max_block emits the id-sorted adjacent chain
    (linear candidates), still transitively connected for closure."""
    from bigdataamazon_spark.operators import linkage

    rows = [(i, f"name{i:02d} core") for i in range(10)]
    df = spark.createDataFrame(rows, ["id", "name"])
    out = linkage.blocked_fuzzy_pairs(
        df, "id", "name", max_dist=9, max_block=4
    ).collect()
    pairs = sorted((r["src"], r["dst"]) for r in out)
    assert pairs == [(i, i + 1) for i in range(9)]


def test_resolve_entities_canonical_min_id(spark):
    """Clusters elect the min-id member's name; singletons self-canon."""
    from bigdataamazon_spark.operators import linkage

    rows = [
        (10, "cold anvil"),
        (7, "old anvil"),
        (3, "blue bolt"),
        (4, "glue bolt"),
        (99, "lonely gizmo"),
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    got = {
        r["id"]: (r["entity_id"], r["canonical_name"])
        for r in linkage.resolve_entities(df, "id", "name", max_dist=2).collect()
    }
    assert got == {
        10: (7, "old anvil"),
        7: (7, "old anvil"),
        3: (3, "blue bolt"),
        4: (3, "blue bolt"),
        99: (99, "lonely gizmo"),
    }


def test_heavy_hitters_exact_with_eviction(spark):
    """|V| >> k forces real Misra-Gries evictions; the exact-recount
    pass must still return precisely the true heavy hitters."""
    from bigdataamazon_spark.operators import sketches

    # 2000 rows: 'hot' 600x, 'warm' 500x, 900 singletons. n/k with k=4
    # -> threshold 500: hot and warm qualify (warm==500 is NOT strictly
    # above; make it 501).
    rows = [("hot",)] * 600 + [("warm",)] * 501 + [(f"u{i}",) for i in range(899)]
    df = spark.createDataFrame(rows, ["w"]).repartition(8)
    got = {r["item"]: r["freq"] for r in sketches.heavy_hitters(df, "w", 4).collect()}
    assert got == {"hot": 600, "warm": 501}


def test_heavy_hitters_matches_exact_counts_randomized(spark):
    """Superset-then-recount == brute-force, on a seeded Zipfian draw."""
    import random

    from pyspark.sql import functions as F

    from bigdataamazon_spark.operators import sketches

    rng = random.Random(42)
    vals = [f"w{min(int(1 / (rng.random() + 1e-9)), 50)}" for _ in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], ["w"]).repartition(16)
    k = 10
    got = {r["item"]: r["freq"] for r in sketches.heavy_hitters(df, "w", k).collect()}
    exact = {
        r["w"]: r["c"]
        for r in df.groupBy("w").agg(F.count(F.lit(1)).alias("c")).collect()
        if r["c"] > len(vals) / k
    }
    assert got == exact


def test_heavy_hitters_null_and_empty(spark):
    from pyspark.sql import types as T

    from bigdataamazon_spark.operators import sketches

    schema = T.StructType([T.StructField("w", T.StringType())])
    empty = spark.createDataFrame([], schema)
    assert sketches.heavy_hitters(empty, "w", 5).collect() == []
    nulls = spark.createDataFrame([("a",), (None,), ("a",), (None,)], schema)
    got = {r["item"]: r["freq"] for r in sketches.heavy_hitters(nulls, "w", 2).collect()}
    # nulls are excluded from both the stream and the denominator
    assert got == {"a": 2}


def test_skyline_has_no_dominated_rows(spark):
    """Every returned point is Pareto-optimal and every Pareto-optimal
    part is returned (brute-force dominance check at sf0.001)."""
    from bigdataamazon_spark import queries as registry

    sf = "/root/testdata/sf0.001"
    sky = {
        (r["p_partkey"], r["price"], r["size"])
        for r in registry.queries()["part_price_size_skyline"](spark, sf).collect()
    }
    parts = [
        (r["p_partkey"], round(r["p_retailprice"], 2), r["p_size"])
        for r in spark.read.parquet(f"{sf}/part.parquet")
        .select("p_partkey", "p_retailprice", "p_size")
        .collect()
    ]

    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
            for q in parts
            if q[0] != p[0]
        )

    expected = {p for p in parts if not dominated(p)}
    assert sky == expected


def test_ivm_join_matches_spark_full_recompute(spark):
    """The 4-term delta merge equals a direct Spark join-agg — the IVM
    identity checked engine-internally, independent of the oracle."""
    from pyspark.sql import functions as F

    from bigdataamazon_spark import queries as registry

    sf = "/root/testdata/sf0.001"
    got = {
        r["o_orderpriority"]: (r["revenue"], r["n_items"])
        for r in registry.queries()["incremental_join_maintenance"](spark, sf).collect()
    }
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    full = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )
    want = {r["o_orderpriority"]: (r["revenue"], r["n_items"]) for r in full.collect()}
    assert got == want


def test_contrastive_negatives_invariants(spark):
    """Each anchor gets <=3 negatives, never its own label, and the
    choice is stable across invocations (hash-deterministic)."""
    from bigdataamazon_spark import queries as registry

    sf = "/root/testdata/sf0.001"
    fn = registry.queries()["contrastive_negatives"]
    rows1 = {(r["anchor_id"], r["rank"]): r["neg_id"] for r in fn(spark, sf).collect()}
    rows2 = {(r["anchor_id"], r["rank"]): r["neg_id"] for r in fn(spark, sf).collect()}
    assert rows1 == rows2 and rows1
    got = fn(spark, sf).collect()
    assert all(r["anchor_label"] != r["neg_label"] for r in got)
    from collections import Counter

    per_anchor = Counter(r["anchor_id"] for r in got)
    assert max(per_anchor.values()) <= 3


def test_purged_splits_partition_events_completely(spark):
    """train + val + embargo == total events for every fold."""
    from bigdataamazon_spark import queries as registry

    sf = "/root/testdata/sf0.001"
    total = spark.read.parquet(f"{sf}/events.parquet").count()
    for r in registry.queries()["purged_time_splits"](spark, sf).collect():
        assert r["n_train"] + r["n_val"] + r["n_embargo"] == total


def test_als_recs_shape_and_training_recall(spark):
    """ALS serving table (als_rec_table): 10 users x 3 ranked recs,
    scores finite and ordered; the registered self-audit entry built on
    it must report 10 rows of 3 recs each with the hit contract TRUE."""
    import math

    from bigdataamazon_spark import queries as registry

    sf = "/root/testdata/sf0.001"
    _, rec_table = registry.als_rec_table(spark, sf)
    got = rec_table.collect()
    by_user = {}
    for r in got:
        assert math.isfinite(r["score"])
        by_user.setdefault(r["custkey"], []).append((r["rank"], r["score"]))
    assert len(by_user) == 10
    for recs in by_user.values():
        recs.sort()
        assert [k for k, _ in recs] == [1, 2, 3]
        scores = [s for _, s in recs]
        assert scores == sorted(scores, reverse=True)
    audit = registry.queries()["ml_als_top_recs"](spark, sf).collect()
    assert len(audit) == 10
    assert all(r["n_recs"] == 3 and r["total_hits_ge_2"] for r in audit)


def test_prefilter_ann_beats_postfilter(spark):
    """Pre-filtering returns exactly k valid neighbors; post-filtering
    an unfiltered top-k can under-return — the ordering argument the
    filtered_ann_topk docstring makes, proven on a crafted corpus."""
    from pyspark.sql import functions as F

    from bigdataamazon_spark.operators import similarity

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.999, 0.01], 1),   # nearest to 1 but wrong label
        (3, [0.99, 0.02], 1),    # 2nd nearest, wrong label
        (4, [0.0, 1.0], 0),      # valid but far
        (5, [-1.0, 0.0], 0),     # valid but opposite
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    pre = similarity.cosine_topk(
        df.filter(F.col("label") == 0), "vec_id", "embedding", k=2
    )
    got_pre = {(r["src"], r["dst"]) for r in pre.collect() if r["src"] == 1}
    assert got_pre == {(1, 4), (1, 5)}  # exactly k=2 valid neighbors
    post_all = similarity.cosine_topk(df, "vec_id", "embedding", k=2)
    valid = {r[0] for r in rows if r[2] == 0}
    got_post = {
        (r["src"], r["dst"])
        for r in post_all.collect()
        if r["src"] == 1 and r["dst"] in valid
    }
    assert len(got_post) < 2  # post-filter under-returns


def test_router_sizes_lsh_bands_with_corpus(spark, monkeypatch):
    """Above the exact bound the router must WIDEN the band signature
    with n: fixed-width bands stop discriminating as the corpus grows
    (at 50k rows a 4-bit band leaves ~3k-row buckets, all over the
    width cap, and recall silently collapses to the adjacent chain —
    the r07 router-receipt bug)."""
    import pyspark.sql.functions as F

    from bigdataamazon_spark.operators import similarity

    seen: dict = {}

    def fake_approx(df, id_col="vec_id", vec_col="embedding", k=5, **kw):
        seen.update(kw)
        return df.limit(0)

    monkeypatch.setattr(similarity, "cosine_topk_approx", fake_approx)
    df = spark.range(50000).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0)).alias("embedding")
    )
    similarity.similarity_topk_auto(df, k=5)
    # ceil(log2(50000/64)) = 10 bits per band x 4 bands
    assert seen["n_planes"] == 40
    seen.clear()
    similarity.similarity_topk_auto(df, k=5, n_planes=16)  # caller pin wins
    assert seen["n_planes"] == 16


def test_lsh_scored_pairs_modes_agree(spark):
    """per_src_topk mode must yield the same global top-k as scoring
    every candidate pair (top-k of a union == top-k over per-bucket
    top-k's under one total order), on a random corpus whose buckets
    are nontrivial."""
    import numpy as np
    from pyspark.sql import functions as F

    from bigdataamazon_spark.operators import similarity

    rng = np.random.default_rng(7)
    rows = [(i, rng.normal(size=16).tolist()) for i in range(800)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()
    k = 4
    full = similarity.lsh_scored_pairs(
        df, "vec_id", "embedding", dim=16, n_planes=12, bands=4
    )
    mirrored = full.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst"), F.col("score")),
                F.struct(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    F.col("score"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.score")
    want = {
        (r["src"], r["dst"], r["rank"])
        for r in similarity.topk_per_src(mirrored, k).collect()
    }
    local = similarity.lsh_scored_pairs(
        df, "vec_id", "embedding", dim=16, n_planes=12, bands=4, per_src_topk=k
    )
    got = {
        (r["src"], r["dst"], r["rank"])
        for r in similarity.topk_per_src(local, k).collect()
    }
    assert got == want and len(got) > 0


def test_lsh_scored_pairs_megabucket_stays_linear(spark):
    """An all-one-bucket corpus must route through the chain (n-1
    pairs), never the in-kernel GEMM (n^2/2 pairs)."""
    import numpy as np

    from bigdataamazon_spark.operators import similarity

    n = 3000
    base = np.ones(8)
    rows = [(i, (base + 1e-9 * i).tolist()) for i in range(n)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()
    pairs = similarity.lsh_scored_pairs(
        df, "vec_id", "embedding", dim=8, n_planes=8, bands=2,
        max_bucket_size=64,
    )
    assert pairs.count() == n - 1


def test_lsh_scored_pairs_none_cap_sentinel(spark):
    """ADVICE r07: `max_bucket_size or 2**62` treated an explicit 0 as
    'no cap' — the opposite of the caller's intent. None must be the
    only no-cap sentinel (matching lsh_candidate_pairs): with no
    over-cap buckets None and the default cap agree exactly, while an
    explicit 0 routes EVERY bucket through the linear chain."""
    import numpy as np

    from bigdataamazon_spark.operators import similarity

    rng = np.random.default_rng(11)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    uncapped = similarity.lsh_scored_pairs(
        df, dim=8, n_planes=8, bands=2, max_bucket_size=None
    )
    capped = similarity.lsh_scored_pairs(
        df, dim=8, n_planes=8, bands=2, max_bucket_size=1024
    )
    a, b = uncapped.select("src", "dst"), capped.select("src", "dst")
    assert uncapped.count() == capped.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    zero = similarity.lsh_scored_pairs(
        df, dim=8, n_planes=8, bands=2, max_bucket_size=0
    ).count()
    assert 0 < zero < capped.count()


def test_lsh_keyed_rejects_indivisible_planes(spark):
    """ADVICE r07: n_planes not divisible by bands used to raise an
    opaque ValueError inside the executor's Arrow kernel (and before
    r07, silently dropped planes). Must fail eagerly at plan build."""
    import pytest

    from bigdataamazon_spark.operators import similarity

    df = spark.createDataFrame(
        [(0, [1.0] * 8)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="divisible"):
        similarity.lsh_scored_pairs(df, dim=8, n_planes=18, bands=4)
    with pytest.raises(ValueError, match="divisible"):
        similarity.lsh_candidate_pairs(df, dim=8, n_planes=18, bands=4)


def test_simhash_banded_equals_allpairs(spark):
    """The two physical plans behind simhash_neardup_pairs (n^2 BNLJ
    below the route cap, pigeonhole-banded equi-join above) must return
    identical rows — banding is exact by construction: a pair within
    max_hamming flipped bits leaves >= 1 of max_hamming+1 bands
    untouched."""
    import random

    from bigdataamazon_spark.operators import dedup

    def to_i64(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    random.seed(9)
    sigs = []
    for i in range(1500):
        base_u = random.getrandbits(64)
        sigs.append((i, to_i64(base_u)))
        if i % 10 == 0:  # planted near-dup within the radius
            fl = base_u
            for b in random.sample(range(64), random.randint(0, 6)):
                fl ^= 1 << b
            sigs.append((100000 + i, to_i64(fl)))
    df = spark.createDataFrame(sigs, "doc_id long, simhash long").cache()
    via_bnlj = {
        (r.src, r.dst, r.hamming)
        for r in dedup.simhash_neardup_pairs(df).collect()
    }
    via_bands = {
        (r.src, r.dst, r.hamming)
        for r in dedup.simhash_neardup_pairs(df, max_rows=0).collect()
    }
    assert via_bands == via_bnlj
    assert len(via_bnlj) >= 150  # the planted dups were found


def test_minhash_bucket_cap_chains_megabucket(spark):
    """r09: lsh_candidates_wide grows the mega-bucket degradation the
    similarity module has had since r06. A 400-identical-doc template
    cluster uncapped costs C(400,2)=79,800 exploded candidates from a
    400-element collect_set in one agg task; with a cap the over-cap
    buckets route through a window chain — exactly the 399 id-adjacent
    pairs, connectivity preserved for CC closure, no array
    materialized. Under-cap buckets must stay byte-identical, and
    None must keep the uncapped plan (registry/oracle contract)."""
    from bigdataamazon_spark.operators import dedup

    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(400)]
    rows += [(1000 + i, f"unique{i} words{i} here{i} now{i} more{i} text{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sids = dedup.shingle_ids(dedup.doc_shingles(df, distinct=False), distinct=False)
    wide = dedup.minhash_signatures_wide(sids).cache()

    uncapped = {
        (r.src, r.dst) for r in dedup.lsh_candidates_wide(wide).collect()
    }
    capped = {
        (r.src, r.dst)
        for r in dedup.lsh_candidates_wide(wide, max_bucket_size=64).collect()
    }
    mega_ids = list(range(400))
    chain_expected = {(a, a + 1) for a in range(399)}
    mega_uncapped = {(s, d) for s, d in uncapped if s < 400 and d < 400}
    mega_capped = {(s, d) for s, d in capped if s < 400 and d < 400}
    assert len(mega_uncapped) == 400 * 399 // 2  # full enumeration
    assert mega_capped == chain_expected  # b-1 chain, nothing else
    # under-cap buckets byte-identical between the two routes
    assert {(s, d) for s, d in uncapped if s >= 400} == {
        (s, d) for s, d in capped if s >= 400
    }
    # chain candidates survive exact-Jaccard verification (identical
    # docs => Jaccard 1.0), so the full pipeline still connects the
    # cluster for CC closure
    verified = {
        (r.src, r.dst)
        for r in dedup.minhash_dedup_pairs(df, 0.9, max_bucket_size=64).collect()
        if r.src < 400 and r.dst < 400
    }
    assert verified == chain_expected
    assert len(mega_ids) == 400


def test_simhash_band_bounds_track_signature_width():
    """r09 banded-route fix: bands must partition exactly the OCCUPIED
    bit range. The r07–r08 form split a fixed 64-bit range over 31-bit
    production signatures, leaving three constant-zero bands — every
    row in one bucket per degenerate band, i.e. a silent all-pairs
    join ×3 on the route that exists to avoid all-pairs."""
    from bigdataamazon_spark.operators.dedup import _simhash_band_bounds

    for sig_bits, max_hamming in [(31, 6), (62, 6), (64, 6), (31, 8), (62, 3)]:
        bounds = _simhash_band_bounds(sig_bits, max_hamming)
        assert len(bounds) == max_hamming + 1
        # disjoint, contiguous, non-empty, covering exactly [0, sig_bits)
        assert bounds[0][0] == 0 and bounds[-1][1] == sig_bits
        for (lo, hi), (lo2, _) in zip(bounds, bounds[1:]):
            assert hi == lo2
        assert all(hi > lo for lo, hi in bounds)
    # width <= radius: hamming can't exceed width, every pair
    # qualifies, one all-pairs band is the exact plan
    assert _simhash_band_bounds(4, 6) == [(0, 4)]


def test_simhash_banded_equals_allpairs_31bit_production_width(spark):
    """Same dual-route equality on PRODUCTION-width (31-bit,
    non-negative) signatures — the width the r07–r08 banding
    degenerated on. Inference must band over the observed 31 bits."""
    import random

    from bigdataamazon_spark.operators import dedup

    random.seed(31)
    sigs = []
    for i in range(1200):
        base = random.getrandbits(31)
        sigs.append((i, base))
        if i % 10 == 0:
            fl = base
            for b in random.sample(range(31), random.randint(0, 6)):
                fl ^= 1 << b
            sigs.append((100000 + i, fl))
    df = spark.createDataFrame(sigs, "doc_id long, simhash long").cache()
    via_bnlj = {
        (r.src, r.dst, r.hamming)
        for r in dedup.simhash_neardup_pairs(df).collect()
    }
    via_bands = {
        (r.src, r.dst, r.hamming)
        for r in dedup.simhash_neardup_pairs(df, max_rows=0).collect()
    }
    assert via_bands == via_bnlj
    assert len(via_bnlj) >= 100
    # explicit width overrides inference and must agree too
    via_explicit = {
        (r.src, r.dst, r.hamming)
        for r in dedup.simhash_neardup_pairs(df, max_rows=0, sig_bits=31).collect()
    }
    assert via_explicit == via_bnlj


def test_simhash_wide_mode_refines_and_dual_route_agrees(spark, sf_correctness):
    """62-bit signature mode (the scale path): the low 31 bits must be
    byte-identical to the default mode's signature (strict-refinement
    contract), the high bits must actually be populated (a broken
    second hash would leave them zero and silently reintroduce the
    31-bit noise floor), and the banded route must equal BNLJ on the
    real-corpus wide signatures."""
    from pyspark.sql import functions as F

    from bigdataamazon_spark.catalog import load_table
    from bigdataamazon_spark.operators import dedup

    docs = load_table(spark, sf_correctness, "documents").limit(400)
    sids = dedup.shingle_ids(dedup.doc_shingles(docs, distinct=False)).cache()
    narrow = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(sids).collect()}
    wide = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_signatures(sids, bits=62).collect()
    }
    assert set(narrow) == set(wide)
    mask31 = (1 << 31) - 1
    assert all(wide[d] & mask31 == narrow[d] for d in narrow)
    assert max(wide.values()) >= 1 << 31  # high half is live
    wide_df = dedup.simhash_signatures(sids, bits=62).cache()
    via_bnlj = {
        (r.src, r.dst, r.hamming)
        for r in dedup.simhash_neardup_pairs(wide_df, 8).collect()
    }
    via_bands = {
        (r.src, r.dst, r.hamming)
        for r in dedup.simhash_neardup_pairs(wide_df, 8, max_rows=0).collect()
    }
    assert via_bands == via_bnlj
    # refinement: every wide-mode pair is a narrow-mode pair at the
    # same radius (hamming on 62 bits >= hamming on the 31-bit prefix)
    narrow_df = dedup.simhash_signatures(sids).cache()
    narrow_pairs = {
        (r.src, r.dst)
        for r in dedup.simhash_neardup_pairs(narrow_df, 8).collect()
    }
    assert {(s, d) for s, d, _ in via_bnlj} <= narrow_pairs
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bits"):
        dedup.simhash_signatures(sids, bits=48)


def test_eps_dense_guard_raises_and_chain_opt_in(spark):
    """r09 (VERDICT r08 #4): when the measured density probe says the
    true eps graph is output-bound (most rows in over-cap LSH buckets),
    the pair form must REFUSE by default with a clear message, and
    on_dense='chain' must return connectivity-preserving chain pairs
    (n-1 edges, one component) instead of a vanishing pair sample."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    base = [0.5 + i / 64 for i in range(64)]
    df = spark.range(25_000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(b)) + F.col("id") * F.lit(1e-9) for b in base])
        .cast("array<float>")
        .alias("embedding"),
    )
    with _pytest.raises(ValueError, match="OUTPUT-BOUND"):
        similarity.eps_neighborhood_pairs(df, threshold=0.9).count()
    rows = similarity.eps_neighborhood_pairs(
        df, threshold=0.9, on_dense="chain"
    ).collect()
    assert len(rows) == 24_999
    parent = list(range(25_000))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        parent[find(int(r["src"]))] = find(int(r["dst"]))
    assert len({find(i) for i in range(25_000)}) == 1
    with _pytest.raises(ValueError, match="on_dense"):
        similarity.eps_neighborhood_pairs(df, threshold=0.9, on_dense="nope")


def test_eps_dense_guard_quiet_on_sparse_and_skewed(spark):
    """The guard must NOT fire on ordinary cluster structure (the r06
    routing test corpus) — only when the dense mass dominates."""
    import numpy as np

    rng = np.random.RandomState(7)
    protos = rng.standard_normal((4, 16)) * 5.0
    rows = [
        (i, [float(x) for x in protos[i % 4] + rng.standard_normal(16) * 0.05])
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # max_rows=0 forces the LSH path; default on_dense='raise' must not trip
    out = similarity.eps_neighborhood_pairs(df, threshold=0.9, dim=16, max_rows=0)
    assert out.count() == 4 * (20 * 19 // 2)


def test_lsh_shuffle_partitions_cap_arithmetic(spark):
    """The spill-aware sizing rule (r08): None when the session default
    already covers the keyed volume, ~64k rows/task above it, hard cap
    4096 (r08 verdict #3 — the cap is pure arithmetic, pinned here; the
    stress gate exercises the rule firing on a real >=500k corpus)."""
    df = spark.range(1)
    # the batch exchange width: AQE's initial partition number if set
    default = int(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum", None)
        or spark.conf.get("spark.sql.shuffle.partitions")
    )
    assert similarity._lsh_shuffle_partitions(df, 100) is None
    assert similarity._lsh_shuffle_partitions(df, default * 65_536) is None
    got = similarity._lsh_shuffle_partitions(df, (default + 1) * 65_536 + 1)
    assert got == default + 2
    assert similarity._lsh_shuffle_partitions(df, 4096 * 65_536 * 10) == 4096
