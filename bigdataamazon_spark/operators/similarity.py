"""Similarity search operators (SURVEY.md §2.7 M5/M6, §2.6 J4, §2.5 T2).

The reference materializes the full n×n cosine matrix on the driver and
then sorts every row (``/root/reference/amazon1.py:138-155``). That is the
#1 non-scalable design; here similarity is always an *edge table*
(src, dst, score) produced by a join, and top-k is a window — nothing
quadratic ever lives in memory at once, and Spark streams/spills the
join output.

Two physical strategies, chosen by row count (the one planner-like
heuristic this engine owns, SURVEY.md §4):

- exact: self cross-join with per-side precomputed norms. O(n²) pairs
  but embarrassingly parallel; right answer for dims/candidate sets.
- approx: random-hyperplane LSH (SimHash for cosine) — signature ->
  banded buckets -> join only within buckets -> exact re-score of the
  candidate pairs. This is how 100 TB similarity search must run: the
  shuffle is on short bucket keys, never all-pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..catalog import materialize_shared, widen
from ..functions.vector import as_double_array, dot, l2_norm

# Above this row count, exact all-pairs (n²) is no longer the right
# physical plan and approx_similarity_join should be used instead.
EXACT_PAIRS_MAX_ROWS = 20_000


def _guard_exact_corpus(df: DataFrame, max_rows: int | None, op: str) -> None:
    """Scale guard for the broadcast-GEMM operators: they collect the
    corpus to the driver, which is only a sane plan while n is small.
    Enforced INSIDE the operator (not just the auto wrapper) so no
    registered entry can ship an unbounded corpus to the driver — at
    100× data the guard trips instead of the driver OOMing. The count
    is one cheap column-pruned job against the (already-defined) input.
    """
    if max_rows is None:
        return
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"{op}: corpus has {n} rows > max_rows={max_rows}; the exact "
            "broadcast-GEMM plan collects the corpus to the driver and is "
            "not the right physical plan at this size. Use "
            "similarity_topk_auto (routes to LSH), cosine_topk_approx, or "
            "ivf_index_topk; pass max_rows=None only if the driver is "
            "provisioned for it."
        )


def _sides(df: DataFrame, id_col: str, vec_col: str) -> tuple[DataFrame, DataFrame]:
    base = df.select(
        F.col(id_col),
        as_double_array(vec_col).alias("_vec"),
    ).withColumn("_norm", l2_norm(F.col("_vec")))
    a = base.select(
        F.col(id_col).alias("src"), F.col("_vec").alias("_va"), F.col("_norm").alias("_na")
    )
    b = base.select(
        F.col(id_col).alias("dst"), F.col("_vec").alias("_vb"), F.col("_norm").alias("_nb")
    )
    return a, b


def _score() -> Column:
    return dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    exclude_self: bool = True,
    ordered: bool = False,
) -> DataFrame:
    """Exact all-pairs cosine edge table (src, dst, score).

    ``ordered=True`` keeps only src < dst (undirected pairs, for dedup);
    ``exclude_self`` drops the trivial diagonal (``amazon1.py:148`` skips
    self the same way).
    """
    a, b = _sides(df, id_col, vec_col)
    cond = F.col("src") < F.col("dst") if ordered else F.col("src") != F.col("dst")
    if not exclude_self and not ordered:
        cond = F.lit(True)
    return a.join(b, cond).select("src", "dst", _score().alias("score"))


def topk_per_src(edges: DataFrame, k: int, *, score_col: str = "score") -> DataFrame:
    """Per-src top-k by score desc, dst asc tiebreak (replaces the
    O(n²·log n) python sort loop at ``amazon1.py:143-155``)."""
    w = Window.partitionBy("src").orderBy(F.desc(score_col), F.asc("dst"))
    return (
        edges.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", score_col, "rank")
    )


def posting_cosine_topk(
    cnt: DataFrame,
    k: int = 5,
    *,
    max_df_frac: float | None = None,
    max_df: int | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """Sparse BOW cosine top-k via an inverted-index (posting-list) join
    over a (doc_id, word, c) counts table — the large-sparse-vocabulary
    counterpart to the dense-GEMM ``bow_cosine_topk`` path.

    Edge volume is Σ df(word)² — linear-ish for Zipfian text, quadratic
    on near-universal words. ``max_df_frac`` prunes words whose document
    frequency exceeds that fraction of the corpus BEFORE the join
    (CountVectorizer ``max_df`` semantics: the pruned words leave the
    vector space entirely, so scores are exact cosines of the reduced
    vectors). Hot words carry ~no cosine signal but dominate Σ df², so
    the cap is what keeps this plan alive at 100 TB; the hot-word list
    is tiny by construction (few words can exceed a df fraction), hence
    a broadcast anti-join, never a shuffle.

    ``max_df`` is the ABSOLUTE-count twin, and it is the one that
    matters under domain skew: in a multi-domain corpus a word can be
    universal inside its domain (df² quadratic there) while staying
    under any corpus-wide FRACTION — measured on the 100× stress corpus,
    the fraction cap prunes nothing and the join explodes ~10^10 edges,
    while ``max_df=10_000`` bounds per-word edge volume at df² ≤ 10^8
    regardless of corpus size. Production setting: always set ``max_df``
    (edge volume per word is then corpus-size-independent); add
    ``max_df_frac`` when reduced-space semantics should also track
    corpus growth.

    Physical shape: one groupBy for norms, one word-equi-join with
    map-side partial-summed dot products, two norm joins left to AQE
    (norms is one slim row per doc — broadcast when it fits), window
    top-k. No driver collect anywhere.
    """
    if max_df_frac is not None or max_df is not None:
        dfreq = cnt.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
        cond = F.lit(False)
        if max_df_frac is not None:
            total = cnt.agg(F.count_distinct("doc_id").alias("n"))
            dfreq = dfreq.crossJoin(F.broadcast(total))
            cond = cond | (F.col("df") > F.lit(max_df_frac) * F.col("n"))
        if max_df is not None:
            cond = cond | (F.col("df") > F.lit(max_df))
        hot = dfreq.filter(cond).select("word")
        cnt = cnt.join(F.broadcast(hot), "word", "left_anti")
    # three consumers (norms + both posting join sides): materialize or
    # the tokenize/count DAG upstream re-runs per consumer
    cnt = materialize_shared(cnt)
    nrm = cnt.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    a = cnt.select(F.col("doc_id").alias("src"), "word", F.col("c").alias("ca"))
    b = cnt.select(F.col("doc_id").alias("dst"), "word", F.col("c").alias("cb"))
    shared = (
        a.join(b, "word")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dotp"))
    )
    scored = (
        shared.join(
            nrm.select(F.col("doc_id").alias("src"), F.col("nrm").alias("na")), "src"
        )
        .join(
            nrm.select(F.col("doc_id").alias("dst"), F.col("nrm").alias("nb")), "dst"
        )
        .select(
            "src", "dst", (F.col("dotp") / (F.col("na") * F.col("nb"))).alias("score")
        )
    )
    out = topk_per_src(scored, k)
    if round_to is not None:
        out = out.withColumn("score", F.round(F.col("score"), round_to))
    return out


# Above this vocabulary size the dense literal-array plan stops being a
# plan at all: it compiles |V| expressions per row (plan-size explosion
# before any task runs). The posting-list join takes over there.
DENSE_VOCAB_MAX = 2048

# Absolute document-frequency cap applied by default when the router
# falls back to the posting-list join. The posting join's edge volume is
# Σ df(word)² — with the cap, per-word edge volume is ≤ max_df²
# regardless of corpus size, so total work grows linearly with the
# vocabulary instead of quadratically with hot-word df. Measured on the
# 100×-docs multi-domain stress corpus: uncapped ≈ 4.7e10 edge rows
# (exhausts local disk); max_df=1000 → 1.6× wall at 100× data
# (BASELINE.md round-2/round-6 scaling tables). The cap only exists in
# the fallback regime (n_docs > EXACT_PAIRS_MAX_ROWS or |V| >
# dense_vocab_max); inside the dense regime results stay bit-exact
# uncapped cosine.
POSTING_FALLBACK_MAX_DF = 1000


def bow_topk_auto(
    cnt: DataFrame,
    k: int = 5,
    *,
    tfidf: bool = False,
    dense_vocab_max: int = DENSE_VOCAB_MAX,
    fallback_max_df: int | None = POSTING_FALLBACK_MAX_DF,
    round_to: int | None = 6,
) -> DataFrame:
    """Vocabulary-driven physical routing for bag-of-words cosine top-k
    over a (doc_id, word, c) counts table — one entry point, two plans:

    - |V| <= dense_vocab_max AND n_docs <= EXACT_PAIRS_MAX_ROWS: build
      dense |V|-dim vectors (literal-keyed map probes, one narrow agg)
      and run the broadcast GEMM — n·|V| memory, no pair shuffle.
    - otherwise: the posting-list (inverted-index) join — the plan that
      survives a real 10^5-10^6 vocabulary, where the literal plan
      explodes at compile time and the GEMM's driver collect explodes
      at runtime.

    Inside the dense regime both paths compute the SAME exact cosine,
    so routing never changes results, only the physical plan. In the
    FALLBACK regime (where the dense plan cannot run at all) the
    posting join applies ``fallback_max_df`` — CountVectorizer
    ``max_df`` semantics: words above the absolute df cap leave the
    vector space, bounding per-word edge volume at max_df² regardless
    of corpus size. Uncapped, the fallback dies on hot words (measured
    ~4.7e10 edge rows / disk exhaustion at the 100×-docs stress); the
    cap is what makes the registered auto-routed entries safe to call
    at any scale. Pass ``fallback_max_df=None`` for the exact
    (unbounded) posting join. ``tfidf=True`` weights counts by
    smoothed idf ln((N+1)/(df+1))+1 — driver literals on the dense
    path (bounded by dense_vocab_max), a distributed word join on the
    posting path; idf uses each word's own df, so pruning other words
    never changes a kept word's weight.
    """
    cnt = materialize_shared(cnt)
    # ONE routing job for everything the router needs (r09: the
    # previous two jobs — a double count_distinct agg for (nd, nv),
    # then a per-word df collect — cost 0.63 s + 0.39 s per invocation
    # at sf0.1; the rollup computes the global row AND the per-word dfs
    # in one pass for 0.70 s). The collect is bounded: TakeOrdered
    # keeps the global row first (grouping id desc) and at most
    # dense_vocab_max + 1 word rows — a truncated result IS the
    # "vocabulary exceeds the dense cap" routing signal, so a 10^6-word
    # corpus never ships its vocabulary to the driver.
    rows = (
        cnt.rollup("word")
        .agg(F.count_distinct("doc_id").alias("df"), F.grouping("word").alias("gid"))
        .orderBy(F.desc("gid"), F.asc("word"))
        .limit(dense_vocab_max + 2)
        .collect()
    )
    # EMPTY input: rollup's Expand emits zero rows from zero rows, so
    # there is no grand-total row at all (unlike the old global agg,
    # which always returned one) — route as nd=0/nv=0 and fall through
    # to the dense branch, which returns an empty result (ADVICE r09).
    n_docs = rows[0]["df"] if rows else 0  # rollup-total row: count_distinct(doc_id)
    stats = rows[1:]
    n_vocab = len(stats) if len(rows) < dense_vocab_max + 2 else dense_vocab_max + 1

    if n_vocab <= dense_vocab_max and n_docs <= EXACT_PAIRS_MAX_ROWS:
        import math

        words = [r["word"] for r in stats]  # already sorted ascending
        weight = (
            {
                r["word"]: math.log((n_docs + 1.0) / (r["df"] + 1.0)) + 1.0
                for r in stats
            }
            if tfidf
            else None
        )
        m = F.map_from_entries(F.collect_list(F.struct("word", "c")))
        comps = [
            F.coalesce(F.col("m")[F.lit(w)], F.lit(0)).cast("double")
            * (F.lit(weight[w]) if weight is not None else F.lit(1.0))
            for w in words
        ]
        vecs = materialize_shared(
            cnt.groupBy("doc_id")
            .agg(m.alias("m"))
            .select("doc_id", F.array(*comps).alias("vec"))
            # cosine_topk reads vecs twice (corpus broadcast + query stream)
        )
        # max_rows=None: n_docs already checked against EXACT_PAIRS_MAX_ROWS
        return cosine_topk(vecs, "doc_id", "vec", k, round_to=round_to, max_rows=None)

    if tfidf:
        idf = cnt.groupBy("word").agg(
            (
                F.log((F.lit(n_docs) + 1.0) / (F.count_distinct("doc_id") + 1.0)) + 1.0
            ).alias("_idf")
        )
        cnt = cnt.join(idf, "word").select(
            "doc_id", "word", (F.col("c") * F.col("_idf")).alias("c")
        )
    return posting_cosine_topk(cnt, k=k, round_to=round_to, max_df=fallback_max_df)


def cosine_topk_expr(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    round_to: int | None = 6,
) -> DataFrame:
    """Exact cosine top-k via edge table + window — the pure-Catalyst
    formulation. Correct everywhere, but it materializes all n² edges
    through a shuffle; ``cosine_topk`` (GEMM) beats it whenever the
    corpus fits a broadcast."""
    out = topk_per_src(cosine_pairs(df, id_col, vec_col), k)
    if round_to is not None:
        out = out.withColumn("score", F.round(F.col("score"), round_to))
    return out


def cosine_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    round_to: int | None = 6,
    max_rows: int | None = EXACT_PAIRS_MAX_ROWS,
) -> DataFrame:
    """Flagship M7 spine: exact cosine top-k per vector, computed as a
    broadcast GEMM instead of an n² edge shuffle.

    Physical plan: the (n × d) L2-normalized corpus matrix is broadcast
    to every executor (n is bounded by ``max_rows`` — the in-operator
    guard raises above it; ``similarity_topk_auto`` routes to LSH
    instead of raising); each Arrow batch of
    query rows computes ``Q @ Cᵀ`` with BLAS and selects its own top-k
    locally. No pair ever hits a shuffle, no window over n² rows — the
    only distributed movement is the corpus broadcast (n·d·8 bytes) and
    the (n × k) result. Tie-break matches the window formulation:
    score desc, dst asc (corpus pre-sorted by id + stable argsort).

    Scores are computed raw-dot-then-divide — ``(q·c)/(|q|·|c|)``, NOT
    a pre-normalized GEMM — deliberately: it is the exact expression the
    SQL formulation (and any oracle) evaluates, so integer-valued
    vectors (bag-of-words counts) produce bitwise-identical doubles and
    ties break the same way in both engines. Pre-normalizing first
    perturbs the last ulp and silently reorders rounded-score ties.

    This replaces the reference's driver-side dense matrix + python
    sort loop (``/root/reference/amazon1.py:138-155``) with the same
    math distributed over executors.
    """
    import pandas as pd

    _guard_exact_corpus(df, max_rows, "cosine_topk")
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"src {id_type}, dst {id_type}, score double, rank int"
    rows = df.select(id_col, vec_col).collect()
    if not rows:
        # empty corpus: np.array([]) is 1-D, so the axis-1 norm below
        # would raise — and bow_topk_auto routes empty input here
        # (ADVICE r09). No neighbors exist; return the empty table.
        return df.sparkSession.createDataFrame([], out_schema)
    # corpus sorted by id => stable argsort on -score == dst-asc tiebreak
    rows.sort(key=lambda r: r[0])
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    sc = df.sparkSession.sparkContext
    b_ids, b_mat, b_nrm = sc.broadcast(ids), sc.broadcast(mat), sc.broadcast(nrm)
    pad = 32  # argpartition margin so boundary ties resolve exactly

    def gen(batches):
        corpus_ids, corpus, corpus_nrm = b_ids.value, b_mat.value, b_nrm.value
        n = len(corpus_ids)
        pos = {v: i for i, v in enumerate(corpus_ids.tolist())}
        kk = min(k + pad, n - 1)
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            q_nrm = np.linalg.norm(q, axis=1)
            scores = (q @ corpus.T) / (q_nrm[:, None] * corpus_nrm[None, :])
            src_ids = pdf[id_col].to_numpy()
            for i, s in enumerate(src_ids):
                scores[i, pos[s]] = -np.inf  # exclude self
            cand = np.argpartition(-scores, kk - 1, axis=1)[:, :kk]
            out_src, out_dst, out_score, out_rank = [], [], [], []
            for i in range(len(src_ids)):
                c = np.sort(cand[i])  # corpus order == id order
                order = c[np.argsort(-scores[i, c], kind="stable")][:k]
                out_src.extend([src_ids[i]] * len(order))
                out_dst.extend(corpus_ids[order].tolist())
                out_score.extend(scores[i, order].tolist())
                out_rank.extend(range(1, len(order) + 1))
            if round_to is not None:
                out_score = np.round(out_score, round_to).tolist()
            yield pd.DataFrame(
                {"src": out_src, "dst": out_dst, "score": out_score, "rank": out_rank}
            )

    # a small corpus scans as ONE task and the per-row work here is a
    # full GEMM row against the broadcast corpus — widen() buys
    # full-machine parallelism for ~input-size shuffle bytes (no-op on
    # already-wide scans). Measured at the 20k guard boundary: 68 s ->
    # single-digit seconds on local[32].
    return widen(df.select(id_col, vec_col)).mapInPandas(gen, out_schema)


def cosine_threshold_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    *,
    round_to: int | None = 6,
    max_rows: int | None = EXACT_PAIRS_MAX_ROWS,
) -> DataFrame:
    """Exact undirected pairs (src < dst) with cosine >= threshold,
    computed as a broadcast GEMM: each Arrow batch scores its rows
    against the broadcast corpus with BLAS and emits only surviving
    pairs — the n² score matrix exists one batch-slice at a time, no
    edge ever shuffles. Raw-dot-then-divide for oracle bit-parity
    (see ``cosine_topk``). The Catalyst edge-join formulation of the
    same query (``cosine_pairs`` + filter) is ~20× slower at 5k×64d:
    the per-edge higher-order-function dot is interpreted."""
    import pandas as pd

    _guard_exact_corpus(df, max_rows, "cosine_threshold_pairs")
    id_type = df.schema[id_col].dataType.simpleString()
    rows = df.select(id_col, vec_col).collect()
    rows.sort(key=lambda r: r[0])
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    sc = df.sparkSession.sparkContext
    b_ids, b_mat, b_nrm = sc.broadcast(ids), sc.broadcast(mat), sc.broadcast(nrm)

    def gen(batches):
        corpus_ids, corpus, corpus_nrm = b_ids.value, b_mat.value, b_nrm.value
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            q_nrm = np.linalg.norm(q, axis=1)
            scores = (q @ corpus.T) / (q_nrm[:, None] * corpus_nrm[None, :])
            src_ids = pdf[id_col].to_numpy()
            # src < dst keeps pairs undirected and excludes self
            mask = (scores >= threshold) & (src_ids[:, None] < corpus_ids[None, :])
            qi, cj = np.nonzero(mask)
            out_score = scores[qi, cj]
            if round_to is not None:
                out_score = np.round(out_score, round_to)
            yield pd.DataFrame(
                {
                    "src": src_ids[qi],
                    "dst": corpus_ids[cj],
                    "score": out_score,
                }
            )

    # same one-task-scan hazard as cosine_topk: widen before the GEMM
    return widen(df.select(id_col, vec_col)).mapInPandas(
        gen, f"src {id_type}, dst {id_type}, score double"
    )


def ann_brute_force(
    data: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    *,
    round_to: int | None = 6,
) -> DataFrame:
    """Brute-force top-k nearest (cosine) for each query vector.

    ``queries`` is broadcast — the canonical ANN-serving shape: tiny
    query batch against a huge corpus means the corpus never shuffles.
    """
    corpus = data.select(
        F.col(id_col).alias("dst"), as_double_array(vec_col).alias("_vb")
    ).withColumn("_nb", l2_norm(F.col("_vb")))
    probe = queries.select(
        F.col(id_col).alias("src"), as_double_array(vec_col).alias("_va")
    ).withColumn("_na", l2_norm(F.col("_va")))
    edges = corpus.join(F.broadcast(probe), F.col("src") != F.col("dst")).select(
        "src", "dst", _score().alias("score")
    )
    out = topk_per_src(edges, k)
    if round_to is not None:
        out = out.withColumn("score", F.round(F.col("score"), round_to))
    return out


# ---------------------------------------------------------------------------
# Approximate path: random-hyperplane LSH (cosine).
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


# Buckets wider than this stop doing all-pairs candidate generation.
# A bucket this wide is a degenerate hash — near-identical replicas
# collapsing into one bucket made candidate pairs grow quadratically in
# dup multiplicity (measured 29x wall-clock at 10x dup-heavy data,
# BASELINE.md scaling table). Oversized buckets fall back to a
# sorted-id chain: O(size) pairs that keep every member connected (a
# duplicate CLUSTER still closes transitively) at the cost of top-k
# recall inside the degenerate bucket only.
LSH_MAX_BUCKET_SIZE = 1024


def _sized_bits(n: int) -> int:
    """Band width (bits per band) sized to the corpus: 2^bits ≈ n/64,
    clamped [4, 20] — mean bucket ~64 keeps candidate volume
    ~O(64·n·bands) and stays under LSH_MAX_BUCKET_SIZE (no silent
    chain degradation) up to n ≈ 1B rows per table. Shared by
    similarity_topk_auto and eps_neighborhood_pairs; see the router
    docstring for the recall arithmetic and the regime boundary."""
    import math

    return max(4, min(20, math.ceil(math.log2(max(n, 128) / 64))))


# Fraction of rows sitting in estimated-over-cap LSH buckets above
# which the eps graph is declared OUTPUT-BOUND (r08 verdict #4): the
# true pair set then grows ~quadratically in the dense mass and chain
# degradation would silently return a vanishing sample of it (measured
# honest negative, BASELINE.md r08: shifted corpus -> ~4B-edge true
# graph, sampled recall 0.0075). 0.2 leaves ordinary skew (a few
# mega-clusters in an otherwise sparse corpus, whose per-bucket chain
# contract is documented) below the trip wire.
DENSE_BUCKET_ROW_FRACTION = 0.2
_DENSE_GUARD_SAMPLE = 20_000


def _estimate_overcap_fraction(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n: int,
    dim: int,
    n_planes: int,
    bands: int,
    seed: int,
    max_bucket_size: int,
    *,
    sample: int = _DENSE_GUARD_SAMPLE,
) -> float:
    """Estimated fraction of rows living in LSH buckets wider than
    ``max_bucket_size``: hash the SAME hyperplane signatures as the
    real keyed stage over a deterministic ~``sample``-row subset
    (xxhash64 stride on the id — replayable, no RNG), count sampled
    bucket occupancy, and scale by n/sample. One cheap collect of
    sample×dim floats — the routers already pay a count(); this is the
    density probe that decides whether pair ENUMERATION is meaningful
    at all."""
    step = max(1, n // sample)
    pdf = (
        df.select(vec_col)
        .filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(step)) == 0)
        .limit(sample * 2)
        .toPandas()
    )
    m = len(pdf)
    if m == 0:
        return 0.0
    mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    planes = _hyperplanes(dim, n_planes, seed)
    bits = (mat @ planes.T) > 0  # (m, n_planes)
    per_band = n_planes // bands
    scale = n / m
    over = 0
    for b in range(bands):
        seg = bits[:, b * per_band : (b + 1) * per_band]
        keys = np.packbits(
            np.pad(seg, ((0, 0), (0, (-seg.shape[1]) % 8)), constant_values=False),
            axis=1,
        )
        keys = np.ascontiguousarray(keys).view(
            np.dtype((np.void, keys.shape[1]))
        ).ravel()
        _, inv, counts = np.unique(keys, return_inverse=True, return_counts=True)
        over += int((counts[inv] * scale > max_bucket_size).sum())
    return over / (m * bands)


def _lsh_shuffle_partitions(df: DataFrame, keyed_rows: int) -> int | None:
    """Size the LSH stages' shuffle to the keyed-row volume (~64k rows
    per task): at 2M vectors the session default of 32 partitions puts
    ~500k keyed rows — each riding a 64-double vector — into every
    task's agg/GEMM buffers, and the cached keyed stage spills then
    OOMs the read-ahead (measured: eps count 762 s at the default vs
    236 s with sized partitions; BASELINE.md r08 2M receipt). Returns
    None (leave the session default) whenever the default is already
    enough, so plans below ~500k rows — and their pins, oracles, and
    receipts — are byte-identical. The default is the batch exchange
    width: AQE's ``initialPartitionNum`` when set (it overrides
    ``spark.sql.shuffle.partitions`` for AQE plans), else the latter.
    Cluster reading: this is the spill-aware shuffle-partitions rule
    applied PER OPERATOR from the row count the routers already know,
    instead of trusting one global default to fit every stage."""
    import math

    conf = df.sparkSession.conf
    default = int(
        conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum", None)
        or conf.get("spark.sql.shuffle.partitions", "200")
    )
    want = math.ceil(keyed_rows / 65_536)
    if want <= default:
        return None
    return min(want, 4096)


def _lsh_keyed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    bands: int,
    seed: int,
    *,
    keep_vec: bool = False,
) -> DataFrame:
    """(id, band, key) bucket membership — the shared signature stage.

    One Arrow hop for ALL signatures: Q @ planesᵀ in BLAS, sign bits
    packed per band. The pre-r07 form was n_planes interpreted
    higher-order ``aggregate`` expressions per row — the same
    interpreted-lambda tax the r06 rescore rewrite removed, and a
    dominant candidate-stage cost once the router widens the signature
    with n (40+ planes at 50k rows). ``keep_vec=True`` rides the vector
    along for bucket-local scoring (saves the join-back shuffle)."""
    if n_planes % bands:
        # fail eagerly on the driver — the reshape below would otherwise
        # raise a ValueError inside the executor as an opaque Arrow UDF
        # error (the pre-r07 loop form silently used only the first
        # bands*(n_planes//bands) planes, which is not a config to honor)
        raise ValueError(
            f"n_planes={n_planes} must be divisible by bands={bands} "
            "(band keys pack equal-width bit groups)"
        )
    planes = _hyperplanes(dim, n_planes, seed)
    rows_per_band = n_planes // bands
    pt = planes.T.copy()
    weights = (1 << np.arange(rows_per_band - 1, -1, -1)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def _band_keys(vecs: pd.Series) -> pd.Series:
        q = np.array(vecs.tolist(), dtype=np.float64)
        bits = (q @ pt > 0).astype(np.int64)
        keys = bits.reshape(len(q), bands, rows_per_band) @ weights
        return pd.Series(list(keys))

    extra = [as_double_array(vec_col).alias("_vec")] if keep_vec else []
    return df.select(
        F.col(id_col), _band_keys(as_double_array(vec_col)).alias("_bk"), *extra
    ).select(F.col(id_col), F.posexplode("_bk").alias("band", "key"), *(["_vec"] if keep_vec else []))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = LSH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Candidate (src, dst) pairs sharing >=1 LSH band bucket.

    signature: sign bits of <vec, hyperplane_i>; band key packs
    n_planes/bands consecutive bits into an int. The join is an
    equi-join on (band, key) — shuffles only ids+signatures, so it
    scales to corpus sizes where all-pairs cannot run.

    ``max_bucket_size`` bounds the densification blow-up: buckets up
    to the cap join all-pairs (the normal LSH shape); wider buckets
    emit only adjacent pairs of the id-sorted membership — linear, not
    quadratic, in bucket width. ``None`` disables the cap.

    Physical shape (r06 rewrite, identical candidate set): bucket
    sizes come from one combiner-friendly agg whose output (one row
    per bucket) is normally tiny, so AQE broadcasts the over-cap key
    list at runtime and routes rows map-side — unhinted, so a
    dup-heavy corpus with n/cap over-cap keys degrades to a shuffle
    join instead of a forced driver-side collect. ≤cap buckets
    go through one groupBy collecting the sorted membership (the
    collect_list buffer and emitted row are bounded by the cap) with
    all i<j pairs generated JVM-side from the array; >cap (degenerate)
    buckets keep the old spillable WINDOW chain — collect_list cannot
    spill within a group, so a mega-bucket of near-identical replicas
    must stream through the window buffer rather than materialize as
    one array. The old form dragged EVERY row through the window +
    self-join + union (4 shuffle rounds, ~3.4 s of per-stage overhead
    at 2k rows and the dominant ann_recall_audit cost); now the hot
    path is the size agg + one bounded groupBy + distinct, and the
    window touches only degenerate-bucket rows (normally none).
    """
    keyed = _lsh_keyed(df, id_col, vec_col, dim, n_planes, bands, seed)
    if max_bucket_size is None:
        left = keyed.select(F.col(id_col).alias("src"), "band", "key")
        right = keyed.select(F.col(id_col).alias("dst"), "band", "key")
        return (
            left.join(right, ["band", "key"])
            .filter(F.col("src") < F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
    # keyed feeds three subtrees (size agg + both routing joins):
    # persist, or the signature projection re-runs per consumer
    keyed = materialize_shared(keyed)
    # bucket sizes first: a combiner-friendly agg whose OUTPUT is one
    # row per bucket, so the over-cap key list is NORMALLY tiny (zero
    # rows on non-degenerate corpora) — but it is bounded only by
    # n_rows/cap, so the routing joins below carry NO broadcast hint:
    # AQE converts them to broadcast at runtime when hot is actually
    # small (the executed plan on real corpora — pinned), and keeps a
    # shuffle join on a dup-heavy corpus where n/cap keys would
    # otherwise be FORCED through a driver collect.
    hot = (
        keyed.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") > max_bucket_size)
        .select("band", "key")
    )
    # ≤cap buckets: one groupBy collecting the sorted membership — the
    # collect_list buffer and the emitted row are bounded by the cap
    # (≤ ~8 KB of ids at cap 1024), then all i<j pairs come from a
    # per-row array expression (sorted ⇒ src < dst, matching the old
    # self-join's filter). No further exchange before the distinct.
    small = keyed.join(hot, ["band", "key"], "left_anti")
    buckets = small.groupBy("band", "key").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("_ids")
    )
    all_pairs = F.expr(
        "flatten(transform(_ids, (x, i) -> "
        "transform(slice(_ids, i + 2, size(_ids)), y -> struct(x AS src, y AS dst))))"
    )
    pairs_small = (
        buckets.select(F.explode(all_pairs).alias("_p"))
        .select(F.col("_p.src").alias("src"), F.col("_p.dst").alias("dst"))
    )
    # >cap (degenerate) buckets: adjacent chain of the id-sorted
    # membership via a WINDOW, not collect_list — the window buffer
    # spills (ExternalAppendOnlyUnsafeRowBuffer), so a pathological
    # mega-bucket of near-identical replicas streams instead of
    # materializing as one in-memory array/row. This is exactly the
    # case the cap exists for, so it must not assume the bucket fits.
    big = keyed.join(hot, ["band", "key"], "left_semi")
    chain_w = Window.partitionBy("band", "key").orderBy(F.col(id_col))
    pairs_big = (
        big.withColumn("_prev", F.lag(id_col).over(chain_w))
        .filter(F.col("_prev").isNotNull())
        # ids sorted ascending ⇒ _prev < id, matching the src < dst form
        .select(F.col("_prev").alias("src"), F.col(id_col).alias("dst"))
    )
    return pairs_small.unionByName(pairs_big).distinct()


def lsh_scored_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = LSH_MAX_BUCKET_SIZE,
    per_src_topk: int | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Every distinct LSH candidate pair WITH its exact cosine, scored
    bucket-locally: (src, dst, score), src < dst, NaN (zero-norm)
    edges dropped.

    ``per_src_topk=k`` switches to the DIRECTED per-source form: each
    bucket emits only every member's local top-k neighbors (both
    orientations, same (score desc, dst asc) total order), deduped
    across bands. Top-k of a union equals top-k over the union of
    per-bucket top-k's under one total order, so a downstream global
    top-k loses nothing — while the shuffle shrinks from Σ bucket²
    pairs to ≤ n·bands·k rows (36M -> 2M at the 50k receipt).

    Why not candidates -> join-back -> per-edge rescore (the pre-r07
    ``cosine_topk_approx`` shape)? That plan ships BOTH vectors for
    EVERY edge through the join and the Arrow hop — at 50k vectors /
    40 planes the candidate set is ~8M pairs and the vector traffic is
    ~16 GB, 90% of the whole query's wall clock (measured: 92 s of
    103 s). Scoring inside the bucket ships each vector once per band
    membership (n·bands rows, ~100 MB at the same scale) and computes
    the bucket's pair scores as ONE local GEMM — candidate volume is
    already bounded by the width cap, so the per-group matrix is at
    most cap² doubles. Measured at 50k×64, 40 planes: 103 s -> 14 s,
    identical output.

    Over-cap (degenerate) buckets keep the r06 spillable WINDOW chain
    (adjacent pairs of the id-sorted membership, then per-edge Arrow
    rescore of the bounded chain): applyInPandas must materialize a
    whole group in one pandas frame, which is exactly what a mega-
    bucket of near-identical replicas must never do.

    Scores are dot/(|a|·|b|) in float64 both here and in the per-edge
    kernel; a pair surfacing from several bands (or from both the
    bucket and chain routes) collapses via max(score) — the values
    agree to the last ulp-or-so and every consumer rounds after rank.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    keyed_src = _lsh_keyed(df, id_col, vec_col, dim, n_planes, bands, seed, keep_vec=True)
    if shuffle_partitions:
        # hash-partition the cached stage on the group key at a width
        # sized to the data (callers that counted n pass it via
        # _lsh_shuffle_partitions): the size agg and the bucket-GEMM
        # groupBy both require ClusteredDistribution(band, key), so
        # they reuse this partitioning instead of re-shuffling at the
        # session default — which at 2M rows buffers ~500k vector-
        # carrying rows per task and spills (BASELINE.md r08).
        keyed_src = keyed_src.repartition(shuffle_partitions, "band", "key")
    keyed = materialize_shared(keyed_src)
    if max_bucket_size is None:
        # no cap: skip the bucket-size agg and both routing joins
        # entirely. `is None` is the only no-cap sentinel (matching
        # lsh_candidate_pairs); an explicit 0 means every non-trivial
        # bucket is over-cap, not "uncapped".
        hot = None
        small = keyed
    else:
        hot = (
            keyed.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .filter(F.col("_bsz") > max_bucket_size)
            .select("band", "key")
        )
        small = keyed.join(hot, ["band", "key"], "left_anti")

    def bucket_gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        if len(pdf) < 2:
            return pd.DataFrame(
                {"src": ids[:0], "dst": ids[:0], "score": np.array([], dtype=np.float64)}
            )
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        v = np.array(pdf["_vec"].tolist(), dtype=np.float64)[order]
        nrm = np.linalg.norm(v, axis=1)
        s = (v @ v.T) / np.outer(nrm, nrm)
        if per_src_topk is None:
            iu, ju = np.triu_indices(len(ids), 1)
            sc = s[iu, ju]
            keep = ~np.isnan(sc)
            return pd.DataFrame(
                {"src": ids[iu][keep], "dst": ids[ju][keep], "score": sc[keep]}
            )
        # directed local top-k: -inf the diagonal and NaN cells, stable
        # argsort on -score over ascending-id columns == the global
        # (score desc, dst asc) total order
        np.fill_diagonal(s, -np.inf)
        s = np.nan_to_num(s, nan=-np.inf, posinf=np.inf, neginf=-np.inf)
        kk = min(per_src_topk, len(ids) - 1)
        top = np.argsort(-s, axis=1, kind="stable")[:, :kk]
        sc = np.take_along_axis(s, top, axis=1).ravel()
        keep = np.isfinite(sc)
        return pd.DataFrame(
            {
                "src": np.repeat(ids, kk)[keep],
                "dst": ids[top].ravel()[keep],
                "score": sc[keep],
            }
        )

    pairs_small = small.groupBy("band", "key").applyInPandas(
        bucket_gemm, f"src {id_type}, dst {id_type}, score double"
    )
    if hot is None:
        merged = pairs_small
        if shuffle_partitions:
            merged = merged.repartition(shuffle_partitions, "src", "dst")
        return merged.groupBy("src", "dst").agg(F.max("score").alias("score"))
    big = keyed.join(hot, ["band", "key"], "left_semi")
    chain_w = Window.partitionBy("band", "key").orderBy(F.col(id_col))
    chain = (
        big.withColumn("_prev", F.lag(id_col).over(chain_w))
        .filter(F.col("_prev").isNotNull())
        .select(F.col("_prev").alias("src"), F.col(id_col).alias("dst"))
    )
    pairs_big = _rescore_pairs_exact(
        df,
        chain,
        id_col,
        vec_col,
        threshold=-2.0,
        round_to=None,
        mirror=per_src_topk is not None,
    )
    merged = pairs_small.unionByName(pairs_big)
    if shuffle_partitions:
        # same sizing for the dedup agg: candidate volume is
        # O(mean_bucket · keyed_rows), the widest shuffle in the plan
        merged = merged.repartition(shuffle_partitions, "src", "dst")
    return merged.groupBy("src", "dst").agg(F.max("score").alias("score"))


def cosine_topk_approx(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    round_to: int | None = 6,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """LSH candidates -> exact score -> top-k. Approximate recall
    (a true neighbor can miss every band) — the scale path; since r07
    it is ALSO oracle-hash-checked (``cosine_topk_lsh`` replays the
    seeded hyperplanes in SQL).

    Scoring is bucket-local (``lsh_scored_pairs``, one GEMM per LSH
    bucket) rather than per-edge: the r06 per-edge Arrow hop beat the
    interpreted higher-order ``aggregate`` it replaced, but still
    shipped both vectors for every candidate edge — the dominant cost
    once the router widens signatures with n (measured 92 of 103 s at
    50k×64). Verified to produce identical (src, dst, score, rank)
    rows at every test scale (64-dim dots are ~1e-16-stable across
    summation orders and candidate score gaps are ~1e-5). Zero-norm
    vectors: cosine is NaN and the edge is DROPPED — matching the
    exact-GEMM operators (``cosine_threshold_pairs`` etc., where NaN
    fails the >= mask); the pre-r06 Catalyst form instead floated NaN
    edges to rank 1 (descending sort treats NaN as greatest), which
    was the bug."""
    edges = lsh_scored_pairs(
        df,
        id_col,
        vec_col,
        dim=dim,
        n_planes=n_planes,
        bands=bands,
        seed=seed,
        per_src_topk=k,
        shuffle_partitions=shuffle_partitions,
    )
    out = topk_per_src(edges, k)
    if round_to is not None:
        out = out.withColumn("score", F.round(F.col("score"), round_to))
    return out


# ---------------------------------------------------------------------------
# Approximate path 2: IVF (inverted-file) — data-adaptive coarse quantizer.
# ---------------------------------------------------------------------------


def ivf_fit_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    n_clusters: int = 16,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> np.ndarray:
    """Fit the coarse quantizer (KMeans) and return its (k × d) centroid
    matrix. The model is tiny; at 100 TB you fit it on a sample
    (``sample_fraction``) — quantizer quality needs representative data,
    not all of it."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = df if sample_fraction is None else df.sample(sample_fraction, seed=seed)
    feat = train.select(array_to_vector(as_double_array(vec_col)).alias("features"))
    model = KMeans(k=n_clusters, seed=seed, maxIter=20).fit(feat)
    return np.array([np.asarray(c) for c in model.clusterCenters()])


def _kmeans_local(
    mat: np.ndarray, n_clusters: int, seed: int, max_iter: int
) -> np.ndarray:
    """Seeded Lloyd's (k-means++ init) over an in-memory matrix —
    deterministic given (mat order, seed). The driver-side quantizer
    fit for audit-sized corpora; vectorized numpy throughout."""
    rng = np.random.RandomState(seed)
    n = mat.shape[0]
    k = min(n_clusters, n)
    centers = np.empty((k, mat.shape[1]), dtype=np.float64)
    centers[0] = mat[rng.randint(n)]
    d2 = ((mat - centers[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        tot = d2.sum()
        if tot <= 0:  # all points coincide with chosen centers
            centers[j:] = centers[0]
            break
        centers[j] = mat[rng.choice(n, p=d2 / tot)]
        d2 = np.minimum(d2, ((mat - centers[j]) ** 2).sum(axis=1))
    for _ in range(max_iter):
        d = (
            (mat**2).sum(axis=1)[:, None]
            - 2.0 * (mat @ centers.T)
            + (centers**2).sum(axis=1)[None, :]
        )
        assign = d.argmin(axis=1)
        new = centers.copy()
        for j in range(k):
            members = mat[assign == j]
            if len(members):
                new[j] = members.mean(axis=0)
        if np.array_equal(new, centers):
            break
        centers = new
    return centers


def ivf_fit_centroids_local(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_clusters: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    max_rows: int | None = EXACT_PAIRS_MAX_ROWS,
) -> np.ndarray:
    """Per-invocation deterministic quantizer fit: collect the (guarded,
    audit-sized) corpus to the driver, sort by id, run seeded Lloyd's in
    numpy. Replaces the module-level memo of a Spark KMeans fit
    (VERDICT r09 #8): every invocation now computes the quantizer from
    the parquet input — no state keyed on the data dir survives the
    call — and the fit is milliseconds instead of a 20-job iterative
    MLlib run, so honesty costs less than the memo saved. Guarded by
    the same bound as the exact GEMM operators (the audit queries that
    call this already collect the same corpus for their exact arm); fit
    a sample via ``ivf_fit_centroids(sample_fraction=...)`` when the
    corpus is bigger than an audit sample."""
    _guard_exact_corpus(df, max_rows, "ivf_fit_centroids_local")
    rows = df.select(id_col, vec_col).collect()
    if not rows:
        # empty corpus: np.array([]) is 1-D and k-means++ would draw
        # from zero rows (cosine_topk guards the same way). No vector
        # needs a cluster; return no centroids.
        return np.empty((0, 0), dtype=np.float64)
    rows.sort(key=lambda r: r[0])  # collect order is not deterministic; id order is
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return _kmeans_local(mat, n_clusters, seed, max_iter)


def _nearest_clusters_gen(centroids: np.ndarray, vec_col: str, nprobe: int):
    """mapInPandas kernel: per row, ids of the nprobe nearest centroids
    (cosine). One GEMM per Arrow batch against the broadcast (k × d)
    centroid matrix — k is small, so this is the cheap side of IVF.
    The vector rides along in the output so downstream bucket joins
    need no join-back-to-source shuffle."""
    import pandas as pd

    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ cn.T
            top = np.argsort(-sims, kind="stable", axis=1)[:, :nprobe]
            out = pdf[["_rid"]].copy()
            # emit the L2-NORMALIZED vector: downstream cosine is then a
            # plain dot product, no norm columns to carry
            out[vec_col] = [row.tolist() for row in q]
            out["clusters"] = [row.tolist() for row in top]
            yield out

    return gen


def _batch_dot(a, b):
    """Arrow-batched dot product — one numpy einsum per batch instead of
    an interpreted per-element fold per row (the higher-order-function
    ``aggregate(zip_with(...))`` path is ~10× slower on wide edges)."""
    import pandas as pd

    return pd.Series(
        np.einsum(
            "ij,ij->i",
            np.array(a.tolist(), dtype=np.float64),
            np.array(b.tolist(), dtype=np.float64),
        )
    )


def _per_cluster_topk_fn(k: int):
    """Factory for the cogroup kernel shared by the transient IVF path
    and the materialized-index serve path: one GEMM per cluster, each
    query's LOCAL top-k within the cluster, self-match excluded,
    dst-asc tiebreak. Vectors shuffle once into their cluster group and
    never ride an edge row."""

    def per_cluster_topk(left, right):
        """One GEMM per cluster; emits each query's LOCAL top-k within
        the cluster. Vectors shuffle once into their cluster group and
        never ride an edge row — the edge table that leaves this kernel
        is (id, id, double) × k·nprobe per query, nothing more."""
        import pandas as pd

        if left.empty or right.empty:
            return pd.DataFrame({"src": [], "dst": [], "score": []})
        q = np.array(left["_va"].tolist(), dtype=np.float64)
        c = np.array(right["_vb"].tolist(), dtype=np.float64)
        scores = q @ c.T
        src_ids = left["src"].to_numpy()
        dst_ids = right["dst"].to_numpy()
        dorder = np.argsort(dst_ids, kind="stable")  # dst-asc tiebreak
        scores = scores[:, dorder]
        dst_sorted = dst_ids[dorder]
        pos = {v: i for i, v in enumerate(dst_sorted.tolist())}
        out_src, out_dst, out_score = [], [], []
        for i, s in enumerate(src_ids):
            row = scores[i]
            if s in pos:
                row = row.copy()
                row[pos[s]] = -np.inf  # exclude self
            kk = min(k, len(row))
            cand = np.argpartition(-row, kk - 1)[:kk] if kk < len(row) else np.arange(len(row))
            cand = np.sort(cand)  # dst-sorted positions => stable tiebreak
            order = cand[np.argsort(-row[cand], kind="stable")][:kk]
            keep = row[order] > -np.inf
            out_src.extend([s] * int(keep.sum()))
            out_dst.extend(dst_sorted[order[keep]].tolist())
            out_score.extend(row[order[keep]].tolist())
        return pd.DataFrame({"src": out_src, "dst": out_dst, "score": out_score})

    return per_cluster_topk


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    centroids: np.ndarray | None = None,
    n_clusters: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    round_to: int | None = 6,
) -> DataFrame:
    """IVF approximate per-vector top-k: assign every vector to its home
    cluster (probe 1), probe each query against its ``nprobe`` nearest
    clusters, exact-rescore only within probed buckets.

    Physically: the candidate join is an equi-join on the cluster id —
    the corpus shuffles once on a small int key, queries shuffle nprobe
    copies; nothing quadratic. Versus LSH: buckets follow the data
    distribution (no empty/megabucket pathology on clustered data), at
    the cost of fitting the quantizer."""
    if centroids is None:
        centroids = ivf_fit_centroids(
            df, vec_col, n_clusters=n_clusters, seed=seed
        )

    base = df.select(
        F.col(id_col).alias("_rid"), as_double_array(vec_col).alias(vec_col)
    )
    assign_schema = (
        f"_rid {df.schema[id_col].dataType.simpleString()}, "
        f"{vec_col} array<double>, clusters array<int>"
    )
    # the vector rides through the kernel output, so neither join side
    # needs a join-back-to-source shuffle; assignment feeds both sides,
    # so persist to run the GEMM once
    assigned = materialize_shared(
        base.mapInPandas(_nearest_clusters_gen(centroids, vec_col, nprobe), assign_schema)
    )
    # corpus membership: home cluster only (first of the probe list)
    corpus_side = assigned.select(
        F.col("clusters")[0].alias("cluster"),
        F.col("_rid").alias("dst"),
        F.col(vec_col).alias("_vb"),
    )
    query_side = assigned.select(
        F.explode("clusters").alias("cluster"),
        F.col("_rid").alias("src"),
        F.col(vec_col).alias("_va"),
    )

    id_type = df.schema[id_col].dataType.simpleString()

    per_cluster_topk = _per_cluster_topk_fn(k)

    local = (
        query_side.groupBy("cluster")
        .cogroup(corpus_side.groupBy("cluster"))
        .applyInPandas(
            per_cluster_topk, f"src {id_type}, dst {id_type}, score double"
        )
    )
    # global merge: nprobe local top-k lists per query -> one window over
    # k·nprobe rows per src
    out = topk_per_src(local, k)
    if round_to is not None:
        out = out.withColumn("score", F.round(F.col("score"), round_to))
    return out


def _rescore_pairs_exact(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    *,
    round_to: int | None = 6,
    mirror: bool = False,
) -> DataFrame:
    """Exact cosine over a candidate (src, dst) edge stream: two keyed
    joins attach the vectors, one Arrow hop computes row-wise dots in
    numpy and keeps scores >= threshold. Cost is linear in candidate
    volume — this is the verification half of every
    candidates-then-verify similarity plan (LSH/IVF/banded MinHash).

    ``mirror=True`` emits BOTH orientations of each surviving pair from
    the same Arrow batch — callers that need every node to rank its
    neighbors must NOT union the output with a column-swapped copy of
    itself: DataFrame union duplicates the whole candidate+rescore
    subtree (measured: the entire LSH stage ran twice inside
    cosine_topk_approx before r06)."""
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    base = df.select(F.col(id_col), as_double_array(vec_col).alias("_v"))
    joined = candidates.select("src", "dst").join(
        base.select(F.col(id_col).alias("src"), F.col("_v").alias("_va")), "src"
    ).join(
        base.select(F.col(id_col).alias("dst"), F.col("_v").alias("_vb")), "dst"
    )

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            a = np.array(pdf["_va"].tolist(), dtype=np.float64)
            b = np.array(pdf["_vb"].tolist(), dtype=np.float64)
            scores = (a * b).sum(axis=1) / (
                np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
            )
            keep = scores >= threshold
            out = scores[keep]
            if round_to is not None:
                out = np.round(out, round_to)
            src = pdf["src"].to_numpy()[keep]
            dst = pdf["dst"].to_numpy()[keep]
            if mirror:
                src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
                out = np.concatenate([out, out])
            yield pd.DataFrame({"src": src, "dst": dst, "score": out})

    return joined.mapInPandas(gen, f"src {id_type}, dst {id_type}, score double")


def eps_neighborhood_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    *,
    max_rows: int | None = EXACT_PAIRS_MAX_ROWS,
    round_to: int | None = 6,
    dim: int = 64,
    n_planes: int | None = None,
    bands: int = 4,
    seeds: tuple[int, ...] = (42, 1337),
    max_bucket_size: int | None = LSH_MAX_BUCKET_SIZE,
    on_dense: str = "raise",
    dense_fraction: float = DENSE_BUCKET_ROW_FRACTION,
) -> DataFrame:
    """Size-routed eps-neighborhood edge table (src < dst, cosine >=
    threshold) — the DBSCAN / density-clustering pair stage.

    - n <= max_rows: the exact broadcast-GEMM threshold scan
      (bit-exact against the all-pairs oracle; the n² score matrix
      lives one batch-slice at a time).
    - above: banded-LSH candidate generation (union over ``seeds`` —
      independent hyperplane draws multiply the miss probability) with
      exact cosine verification of every candidate. Candidate volume is
      bounded by the bucket-width cap, so the plan is linear-ish in
      rows where the true eps-graph itself may be quadratic. This path
      is APPROXIMATE-NEIGHBORHOOD (LSH can miss true pairs; the
      S-curve planner ``lsh_parameter_plan`` quantifies the miss rate
      per threshold) — the standard production trade for density
      clustering at corpus scale, and the same candidates-then-verify
      contract as ``cosine_topk_lsh``.

    Replaces the unguarded all-pairs form the r05 verdict flagged on
    ``dbscan_embedding_clusters`` (What's wrong #2): no registered
    caller now errors or quadratically explodes above the guard.

    OUTPUT-BOUND contract (r08 verdict #4): when the measured density
    probe (``_estimate_overcap_fraction``) finds more than
    ``dense_fraction`` of rows in over-cap buckets, the true eps graph
    is output-bound — enumeration would silently return a vanishing
    sample of it. ``on_dense='raise'`` (default) raises with the
    remediation options; ``on_dense='chain'`` proceeds, accepting the
    documented per-bucket chain form: every over-cap bucket emits its
    sorted-id adjacent chain, so CLUSTER CONNECTIVITY is preserved
    (run connected components downstream, e.g. ``neardup_clusters``)
    while the pair list stops being the full clique enumeration."""
    if on_dense not in ("raise", "chain"):
        raise ValueError(f"on_dense must be 'raise' or 'chain', got {on_dense!r}")
    n = df.count()
    if max_rows is None or n <= max_rows:
        return cosine_threshold_pairs(
            df, id_col, vec_col, threshold, round_to=round_to, max_rows=None
        )
    if n_planes is None:
        # size the band signature to the corpus, same rule (and same
        # failure mode) as similarity_topk_auto: a FIXED width leaves
        # every bucket over the cap as n grows, the chain route then
        # emits only id-adjacent pairs, and the eps graph silently
        # comes back (near-)EMPTY — measured 0 pairs at threshold 0.9
        # on the 50k near-dup stress corpus with the old fixed 16
        # planes, vs the full replica cliques with sized bands.
        n_planes = _sized_bits(n) * bands
    if max_bucket_size is not None:
        frac_over = _estimate_overcap_fraction(
            df, id_col, vec_col, n, dim, n_planes, bands, seeds[0], max_bucket_size
        )
        if frac_over > dense_fraction and on_dense == "raise":
            raise ValueError(
                f"eps graph at threshold {threshold} is OUTPUT-BOUND: "
                f"~{frac_over:.0%} of {n} rows sit in LSH buckets estimated "
                f"over max_bucket_size={max_bucket_size}, so the true pair "
                "set grows ~quadratically and enumeration would silently "
                "return a vanishing sample of it. Options: raise the "
                "threshold, run the cluster form instead of the pair form "
                "(neardup_clusters / connected components preserve the "
                "dense clusters without enumerating their cliques), or "
                "pass on_dense='chain' to accept chain-degraded "
                "connectivity pairs inside over-cap buckets."
            )
    base = materialize_shared(df.select(id_col, vec_col))
    # size the LSH shuffle to the keyed volume this router just counted
    # (None below ~500k rows -> session default, plans unchanged);
    # measured at 2M rows: eps count 762 s at the 32-partition default
    # vs 236 s sized — the widest stages buffer vector-carrying rows.
    sp = _lsh_shuffle_partitions(df, n * bands)
    cand = None
    for s in seeds:
        # bucket-local scoring (r07): vectors ship once per band
        # membership instead of twice per candidate edge — see
        # lsh_scored_pairs for the measured traffic argument.
        p = lsh_scored_pairs(
            base,
            id_col,
            vec_col,
            dim=dim,
            n_planes=n_planes,
            bands=bands,
            seed=s,
            max_bucket_size=max_bucket_size,
            shuffle_partitions=sp,
        )
        cand = p if cand is None else cand.unionByName(p)
    if sp:
        cand = cand.repartition(sp, "src", "dst")
    out = (
        cand.groupBy("src", "dst")
        .agg(F.max("score").alias("score"))
        .filter(F.col("score") >= threshold)
    )
    if round_to is not None:
        out = out.withColumn("score", F.round(F.col("score"), round_to))
    return out


def similarity_topk_auto(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    **lsh_kwargs,
) -> DataFrame:
    """The one owned planner heuristic (SURVEY.md §4): exact all-pairs
    below EXACT_PAIRS_MAX_ROWS, LSH above.

    When routing to LSH, band width is sized to the corpus unless the
    caller pinned ``n_planes``: with b bits per band there are only 2^b
    buckets, so a FIXED signature width stops discriminating as n grows
    — at 50k rows the 4-bit default leaves ~3k-row buckets, ALL over
    ``LSH_MAX_BUCKET_SIZE``, and every bucket silently degrades to the
    adjacent-chain (connectivity-only, top-k recall ~0; caught by the
    r07 router receipt). Sizing rule: 2^bits ≈ n / 64 — mean bucket
    ~64 keeps candidate volume ~O(64·n·bands) and per-band match
    probability for a 0.998-cosine neighbor at (1-θ/π)^bits ≈ 0.93,
    i.e. ~1 across 4 bands. Bits are clamped to [4, 20]: at the clamp
    the mean bucket is n/2^20, which stays under LSH_MAX_BUCKET_SIZE
    (no silent chain degradation) up to n ≈ 1B rows per table. Beyond
    that regime a 4-band/wider-bits signature is the wrong recall
    trade no matter the width — pick bands/planes explicitly from the
    S-curve planner (``lsh_parameter_plan``) or shard the corpus; the
    heuristic here intentionally covers only the
    single-table-up-to-~1B regime."""
    n = df.count()
    if n <= EXACT_PAIRS_MAX_ROWS:
        # max_rows=None: already counted here, skip the duplicate guard job
        return cosine_topk(df, id_col, vec_col, k, max_rows=None)
    if "n_planes" not in lsh_kwargs:
        bands = lsh_kwargs.get("bands", 4)
        lsh_kwargs["n_planes"] = _sized_bits(n) * bands
    # size the LSH shuffle to the keyed volume the router just counted
    # (None below ~500k rows -> session default, plans unchanged)
    lsh_kwargs.setdefault(
        "shuffle_partitions",
        _lsh_shuffle_partitions(df, n * lsh_kwargs.get("bands", 4)),
    )
    return cosine_topk_approx(df, id_col, vec_col, k, **lsh_kwargs)


def ml_minhash_neardup(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hash_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Token-set near-dup pairs via Spark ML's built-in MinHashLSH
    ``approxSimilarityJoin`` — the library-idiomatic twin of the
    hand-rolled banded pipeline in ``operators/dedup.py`` (SURVEY.md
    §1.5 names this as the canonical Spark similarity-join primitive).

    Tokenize -> binary CountVectorizer (token SETS, so Jaccard is
    set-Jaccard over the vocabulary) -> MinHashLSH with a fixed seed ->
    approxSimilarityJoin at distance 1 - threshold. Distances on
    emitted pairs are exact; which candidate pairs emit depends on the
    LSH tables, so the result is deterministic-given-seed but not
    SQL-replayable — registry exposure is rows-only, with recall vs the
    exact unigram-shingle join pinned in pytest instead. Keep the
    hand-rolled ladder for oracle-checked paths; use this when the ML
    pipeline ecosystem (persistable models, Params) matters more.
    """
    from pyspark.ml.feature import CountVectorizer, MinHashLSH, Tokenizer

    tok = Tokenizer(inputCol=text_col, outputCol="_toks")
    toked = tok.transform(docs.select(id_col, text_col))
    cv = CountVectorizer(inputCol="_toks", outputCol="_vec", binary=True)
    vecs = cv.fit(toked).transform(toked).select(id_col, "_vec")
    lsh = MinHashLSH(
        inputCol="_vec", outputCol="_hashes",
        numHashTables=num_hash_tables, seed=seed,
    )
    model = lsh.fit(vecs)
    pairs = model.approxSimilarityJoin(
        vecs, vecs, 1.0 - threshold, distCol="_dist"
    )
    a, b = F.col(f"datasetA.{id_col}"), F.col(f"datasetB.{id_col}")
    return (
        pairs.filter(a < b)
        .select(
            a.alias("src"),
            b.alias("dst"),
            F.round(1.0 - F.col("_dist"), 6).alias("jaccard"),
        )
    )


def build_ivf_index(
    df: DataFrame,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_clusters: int = 16,
    seed: int = 42,
) -> None:
    """Materialize an IVF index as TABLES: ``centroids.parquet``
    (cluster_id, centroid) and ``assignments.parquet`` (vec_id,
    L2-normalized embedding) PARTITIONED BY home cluster — the offline
    half of the reference's build/serve split (``amazon1.py:113-176``
    builds driver arrays; SURVEY §3 maps model artifacts to tables).
    Partitioning postings by cluster makes partition pruning the index
    lookup: a query probing nprobe clusters reads nprobe/n_clusters of
    the index, whatever the corpus size."""
    cents = ivf_fit_centroids(df, vec_col, n_clusters=n_clusters, seed=seed)
    spark = df.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in cents[i]]) for i in range(len(cents))],
        "cluster_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/centroids.parquet")
    base = df.select(
        F.col(id_col).alias("_rid"), as_double_array(vec_col).alias(vec_col)
    )
    assign_schema = (
        f"_rid {df.schema[id_col].dataType.simpleString()}, "
        f"{vec_col} array<double>, clusters array<int>"
    )
    assigned = base.mapInPandas(
        _nearest_clusters_gen(cents, vec_col, 1), assign_schema
    )
    (
        assigned.select(
            F.col("_rid").alias(id_col),
            F.col(vec_col),
            F.col("clusters")[0].alias("cluster_id"),
        )
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(f"{out_dir}/assignments.parquet")
    )


def ivf_index_topk(
    spark,
    index_dir: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    nprobe: int = 4,
    round_to: int | None = 6,
) -> DataFrame:
    """Serve top-k from a MATERIALIZED IVF index (the online half of
    E2/E3, ``amazon1.py:191-202`` generalized): load the broadcast-
    sized centroid table, route each query to its nprobe nearest
    clusters, scan ONLY those posting partitions (the cluster_id filter
    prunes at the parquet partition level), and exact-rescore inside
    probed clusters with the same cogrouped GEMM as the transient IVF
    path. Index vectors are stored pre-normalized, so serving never
    recomputes corpus norms."""
    cent_rows = sorted(
        spark.read.parquet(f"{index_dir}/centroids.parquet").collect(),
        key=lambda r: r.cluster_id,
    )
    cents = np.array([r.centroid for r in cent_rows], dtype=np.float64)
    base = queries.select(
        F.col(id_col).alias("_rid"), as_double_array(vec_col).alias(vec_col)
    )
    assign_schema = (
        f"_rid {queries.schema[id_col].dataType.simpleString()}, "
        f"{vec_col} array<double>, clusters array<int>"
    )
    probed = base.mapInPandas(
        _nearest_clusters_gen(cents, vec_col, nprobe), assign_schema
    )
    probed = materialize_shared(probed)
    wanted = [
        r.c for r in probed.select(F.explode("clusters").alias("c")).distinct().collect()
    ]
    query_side = probed.select(
        F.explode("clusters").alias("cluster"),
        F.col("_rid").alias("src"),
        F.col(vec_col).alias("_va"),
    )
    corpus_side = (
        spark.read.parquet(f"{index_dir}/assignments.parquet")
        .filter(F.col("cluster_id").isin(wanted))
        .select(
            F.col("cluster_id").alias("cluster"),
            F.col(id_col).alias("dst"),
            F.col(vec_col).alias("_vb"),
        )
    )
    id_type = queries.schema[id_col].dataType.simpleString()
    local = (
        query_side.groupBy("cluster")
        .cogroup(corpus_side.groupBy("cluster"))
        .applyInPandas(
            _per_cluster_topk_fn(k), f"src {id_type}, dst {id_type}, score double"
        )
    )
    out = topk_per_src(local, k)
    if round_to is not None:
        out = out.withColumn("score", F.round(F.col("score"), round_to))
    return out


def cluster_threshold_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    threshold: float = 0.35,
    *,
    round_to: int | None = 6,
) -> DataFrame:
    """Cluster-local exact threshold pairs (src < dst, same cluster) —
    the SemDeDup pairwise stage. One shuffle keys on the cluster id,
    then each cluster's pairs come from a single BLAS GEMM inside
    ``applyInPandas`` (raw-dot-then-divide, the arithmetic the green
    threshold-GEMM entries already bit-match against DuckDB). Unlike
    the broadcast GEMM, nothing is collected to the driver and the
    per-task memory is bounded by the largest cluster — that bound is
    the SemDeDup scale contract (clusters are sized by the upstream
    KMeans, ~corpus/n_clusters)."""
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    cl_type = df.schema[cluster_col].dataType.simpleString()

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"cluster": [], "src": [], "dst": [], "score": []})
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(mat, axis=1)
        scores = (mat @ mat.T) / (nrm[:, None] * nrm[None, :])
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = scores[iu, ju] >= threshold
        out = scores[iu, ju][keep]
        if round_to is not None:
            out = np.round(out, round_to)
        return pd.DataFrame(
            {
                "cluster": pdf[cluster_col].iloc[0],
                "src": ids[iu[keep]],
                "dst": ids[ju[keep]],
                "score": out,
            }
        )

    return (
        df.select(id_col, vec_col, cluster_col)
        .groupBy(cluster_col)
        .applyInPandas(
            per_cluster,
            f"cluster {cl_type}, src {id_type}, dst {id_type}, score double",
        )
    )


def gram_moments(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-batch BLAS partial moments of a vector column, for distributed
    covariance / PCA prep: each Arrow batch of n rows collapses to its
    d(d+1)/2 upper-triangle Gram cells ``(i, j, sum x_i x_j)`` plus d
    first-moment rows ``(i, 0, sum x_i)`` and one count row ``(0, 0, n)``
    — 1-indexed dims, 0 as the moment-kind sentinel.

    This replaces the per-row expression fan-out (each row exploding to
    d(d+1)/2 cells before the partial agg) with one ``M.T @ M`` per
    batch: identical algebra, but the d² work runs vectorized in BLAS
    and the Python boundary carries d-sized vectors in and d²-sized
    partials out — measured ~10× over the codegen generator at 10×
    rows, and the gap widens with n. Downstream: ``groupBy(i, j).sum``
    folds batches; the shuffle is O(partitions · d²), independent of n.
    """
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n, d = m.shape
            g = m.T @ m
            iu = np.triu_indices(d)
            i = np.concatenate(
                [iu[0] + 1, np.arange(1, d + 1), np.zeros(1, dtype=np.int64)]
            )
            j = np.concatenate(
                [iu[1] + 1, np.zeros(d, dtype=np.int64), np.zeros(1, dtype=np.int64)]
            )
            v = np.concatenate([g[iu], m.sum(axis=0), np.array([float(n)])])
            yield pd.DataFrame(
                {"i": i.astype("int32"), "j": j.astype("int32"), "v": v}
            )

    return df.select(vec_col).mapInPandas(gen, "i int, j int, v double")
