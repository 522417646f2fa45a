import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from adb_south_caucasus_etl_spark.functions.text import (
    lang_id,
    quality_score,
    token_count,
    word_shingles,
)
from adb_south_caucasus_etl_spark.operators.dedup import (
    connected_components,
    connected_components_star,
    dedup_exact,
    jaccard_pairs,
    lsh_candidate_pairs,
    simhash_pairs,
)
from adb_south_caucasus_etl_spark.operators.multimodal import (
    decode_image,
    extract_byte_features,
    with_binary_payload,
)
from adb_south_caucasus_etl_spark.operators.similarity import (
    cosine_topk_exact,
    ivf_topk,
)
from adb_south_caucasus_etl_spark.sources.registry import Catalog


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
            (3, "completely different words entirely here now"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        ],
        "doc_id long, text string",
    )


def test_dedup_exact_keeps_min_id(spark, docs):
    kept = sorted(
        r.doc_id for r in dedup_exact(docs, ["text"], "doc_id").collect()
    )
    assert kept == [1, 2, 3]  # doc 4 dropped, survivor is min id


def test_jaccard_pairs_near_and_exact(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3).collect()
    }
    assert pairs[(1, 4)] == 1.0  # exact dup
    assert 0.3 <= pairs[(1, 2)] < 1.0  # near dup (one word differs)
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # symmetric closure: near-dup of a dup is a near-dup
    assert pairs[(2, 4)] == pairs[(1, 2)]


def _brute_jaccard(corpus, n, max_df, threshold):
    """Reference implementation: word n-shingle Jaccard over the df-capped
    shingle universe (consistent numerator AND denominators), mirroring
    jaccard_pairs semantics incl. the short-doc single-shingle rule."""
    sets = {}
    for doc_id, text in corpus:
        toks = text.split()
        if len(toks) < n:
            sets[doc_id] = {tuple(toks)}
        else:
            sets[doc_id] = {
                tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)
            }
    if max_df is not None:
        df_count = {}
        for s in sets.values():
            for sh in s:
                df_count[sh] = df_count.get(sh, 0) + 1
        sets = {
            d: {sh for sh in s if df_count[sh] <= max_df}
            for d, s in sets.items()
        }
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter:
                j = round(inter / union, 4)
                if j >= threshold:
                    out[(a, b)] = j
    return out


@pytest.fixture(scope="module")
def stopword_corpus(spark):
    # every doc starts with the same 6-token stopword phrase → the phrase's
    # shingles appear in ALL docs; unique tails keep true similarity low
    # except for 3 planted near-dup pairs
    stop = "it is one of the most"
    rows = []
    for i in range(40):
        rows.append((i, f"{stop} unique tail {i} alpha beta gamma delta w{i}"))
    # planted near-dups: same tail, one token differs
    rows.append((100, f"{stop} shared tail text epsilon zeta eta theta iota"))
    rows.append((101, f"{stop} shared tail text epsilon zeta eta theta kappa"))
    return rows, spark.createDataFrame(rows, "doc_id long, text string")


def test_max_df_correctness_on_stopword_corpus(spark, stopword_corpus):
    rows, df = stopword_corpus
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.3, max_df=5
        ).collect()
    }
    want = _brute_jaccard(rows, n=3, max_df=5, threshold=0.3)
    assert got == want
    assert (100, 101) in got  # planted near-dup survives the cap


def test_max_df_keeps_pair_join_subquadratic(spark, stopword_corpus):
    rows, df = stopword_corpus
    n = len(rows)
    # threshold=0 exposes the full co-occurring pair space the join pays for:
    # uncapped, the shared stopword shingles connect EVERY doc pair (n²)
    uncapped = jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.0).count()
    assert uncapped == n * (n - 1) // 2
    # capped, only genuinely-overlapping docs ever meet in the join
    capped = jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.0, max_df=5
    ).count()
    assert capped < n  # vs 861 uncapped — sub-quadratic by construction


def test_minhash_lsh_finds_dups(spark, docs):
    got = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(
            docs, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.3
        ).collect()
    }
    assert (1, 4) in got  # exact dup always collides
    assert (1, 3) not in got


def test_simhash_identical_zero_hamming(spark, docs):
    # pigeonhole blocking is COMPLETE: every pair within the budget appears
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(docs, "doc_id", "text", max_hamming=15).collect()
    }
    assert pairs[(1, 4)] == 0
    assert 0 < pairs[(1, 2)] <= 15  # one word swapped → few bits flip


def test_cc_star_deep_path_graph(spark):
    # 100-node path (diameter 99): min-label propagation needs 99 rounds,
    # star contraction collapses it in O(log n) — the deep-graph scale path
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "id_a long, id_b long"
    )
    rows = connected_components_star(edges).collect()
    assert len(rows) == 100
    assert all(r.label == 0 for r in rows)


def test_cc_min_label_warns_when_not_converged(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "id_a long, id_b long"
    )
    with pytest.warns(RuntimeWarning, match="did not converge"):
        connected_components(edges, max_iter=3)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=3, on_nonconverged="raise")


def test_cc_star_matches_min_label_on_random_graph(spark):
    import random

    rng = random.Random(7)
    es = sorted(
        {(rng.randint(0, 199), rng.randint(0, 199)) for _ in range(150)}
    )
    es = [(a, b) for a, b in es if a != b]
    edges = spark.createDataFrame(es, "id_a long, id_b long")
    ml = {r.node: r.label for r in connected_components(edges, max_iter=50).collect()}
    st = {r.node: r.label for r in connected_components_star(edges).collect()}
    assert ml == st


def test_stratified_sample_deterministic(spark, sf_dir):
    from adb_south_caucasus_etl_spark.operators.curation import (
        stratified_sample,
    )

    docs = Catalog(spark, sf_dir).documents
    a = stratified_sample(docs, "lang", "doc_id", {"en": 50}, default_pct=10)
    # repartitioning must not change the sample (df.sample would)
    b = stratified_sample(
        docs.repartition(7), "lang", "doc_id", {"en": 50}, default_pct=10
    )
    ids_a = sorted(r.doc_id for r in a.collect())
    ids_b = sorted(r.doc_id for r in b.collect())
    assert ids_a == ids_b and ids_a
    # every kept row satisfies the modulus rule
    assert all(
        (i % 100 < 50) or (i % 100 < 10)
        for i in ids_a
    )


def test_token_budget_respects_budget_per_stratum(spark, sf_dir):
    from adb_south_caucasus_etl_spark.operators.curation import (
        token_budget_filter,
    )

    docs = Catalog(spark, sf_dir).documents
    out = token_budget_filter(docs, 1500, cum_col="cum").collect()
    assert out
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for rows in by_lang.values():
        assert max(r.cum for r in rows) <= 1500
        # prefix property: kept docs are exactly the smallest doc_ids
        ids = sorted(r.doc_id for r in rows)
        assert len(ids) == len(set(ids))


def test_curate_respects_cap_and_quality_floor(spark, sf_dir):
    from adb_south_caucasus_etl_spark.operators.curation import curate

    docs = Catalog(spark, sf_dir).documents
    out = curate(docs, min_quality=0.6, per_source_cap=5).collect()
    assert out
    per_source = {}
    for r in out:
        assert r.quality >= 0.6
        per_source[r.source] = per_source.get(r.source, 0) + 1
    assert max(per_source.values()) <= 5


def test_lang_id_on_real_sentences(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog went to the park",),
            ("el perro y la casa de un amigo es grande",),
            ("der hund und die katze ist von zu hause",),
            ("xyzzy plugh qwerty",),
        ],
        "text string",
    )
    out = [r[0] for r in df.select(lang_id("text")).collect()]
    assert out == ["en", "es", "de", "und"]


def test_quality_and_tokens_bounds(spark, sf_dir):
    docs = Catalog(spark, sf_dir).documents
    stats = docs.select(
        token_count("text").alias("t"), quality_score("text").alias("q")
    ).agg(
        F.min("t"), F.min("q"), F.max("q")
    ).collect()[0]
    assert stats[0] >= 1
    assert 0.0 <= stats[1] <= stats[2] <= 1.0


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([("solo",), ("two words",)], "text string")
    out = [r[0] for r in df.select(word_shingles("text", 3)).collect()]
    assert out == [["solo"], ["two words"]]


def test_cosine_exact_self_similarity_excluded(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    out = cosine_topk_exact(emb, emb.filter(F.col("vec_id") == 0), k=5)
    rows = out.collect()
    assert len(rows) == 5
    assert all(r.neighbor_id != 0 for r in rows)
    assert [r.rank for r in sorted(rows, key=lambda r: -r.cosine)] == [1, 2, 3, 4, 5]


def test_knn_candidates_blocked_superset_of_exact_topk(spark, sf_dir):
    """The blocked-GEMM candidate prune must emit a SUPERSET of the exact
    rounded-cosine top-k for every query — the guarantee that lets
    ml_knn_confusion re-score candidates and still match brute force
    bit-for-bit (slack absorbs rounding-bucket ties and GEMM ulp)."""
    from adb_south_caucasus_etl_spark.operators.similarity import (
        knn_candidates_blocked,
    )

    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") % 7 == 0)
    corpus = emb.filter(F.col("vec_id") % 7 != 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_exact(corpus, queries, k=5).collect()
    }
    cand = {
        (r.query_id, r.neighbor_id)
        for r in knn_candidates_blocked(queries, corpus, k=5).collect()
    }
    missing = exact - cand
    assert not missing, f"exact top-k pairs pruned: {sorted(missing)[:10]}"
    # and the prune is real: far fewer candidates than all pairs
    n_q = queries.count()
    n_c = corpus.count()
    assert len(cand) < 0.5 * n_q * n_c


def test_knn_candidates_blocked_tie_storm_matches_exact(spark):
    """Adversarial ties: many DUPLICATE vectors (cosine exactly 1.0 to
    each other) plus rounding-bucket near-ties. The slack prune must keep
    every row that can reach the rounded top-k under the (cosine desc,
    neighbor_id asc) tie-break, so cosine_topk_blocked must equal
    cosine_topk_exact row-for-row — ranks, ids and cosines."""
    import math
    import random

    from adb_south_caucasus_etl_spark.operators.similarity import (
        cosine_topk_blocked,
    )

    rng = random.Random(7)
    rows = []
    for i in range(120):
        if i % 3 == 0:
            v = [1.0, 2.0, 3.0, 4.0]  # 40 exact duplicates
        elif i % 3 == 1:
            theta = 0.001 * (i % 7)  # tight near-tie fan
            v = [math.cos(theta), math.sin(theta), 1.0, 0.5]
        else:
            v = [rng.uniform(-1, 1) for _ in range(4)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") % 5 == 0)
    corpus = df.filter(F.col("vec_id") % 5 != 0)
    exact = sorted(
        map(tuple, cosine_topk_exact(corpus, queries, k=5).collect())
    )
    blocked = sorted(
        map(
            tuple,
            cosine_topk_blocked(
                corpus, queries, k=5, n_query_blocks=3, n_corpus_blocks=3
            ).collect(),
        )
    )
    assert blocked == exact


def test_knn_candidates_match_cols_filters_and_stays_superset(spark, sf_dir):
    """match_cols=['label'] (filtered exact NN): every candidate must
    share the query's label, and the label-constrained rounded top-1 must
    survive the prune — the best-relevant front end of
    ml_ranking_metrics."""
    from adb_south_caucasus_etl_spark.operators.similarity import (
        knn_candidates_blocked,
    )

    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") % 9 == 0)
    cand = knn_candidates_blocked(queries, emb, k=1, match_cols=["label"])
    lbl = emb.select(F.col("vec_id").alias("id"), "label")
    mism = (
        cand.join(
            lbl.withColumnRenamed("id", "query_id").withColumnRenamed(
                "label", "ql"
            ),
            "query_id",
        )
        .join(
            lbl.withColumnRenamed("id", "neighbor_id").withColumnRenamed(
                "label", "cl"
            ),
            "neighbor_id",
        )
        .filter(F.col("ql") != F.col("cl"))
        .count()
    )
    assert mism == 0
    # superset vs brute force per label: the (rounded cos, id)-best
    # same-label neighbor must be among the candidates
    exact_best = {}
    rows = emb.collect()
    import math

    by_id = {r.vec_id: r for r in rows}
    for qr in rows:
        if qr.vec_id % 9 != 0:
            continue
        best = None
        for cr in rows:
            if cr.vec_id == qr.vec_id or cr.label != qr.label:
                continue
            dot = sum(
                float(a) * float(b)
                for a, b in zip(qr.embedding, cr.embedding)
            )
            na = math.sqrt(sum(float(a) ** 2 for a in qr.embedding))
            nb = math.sqrt(sum(float(b) ** 2 for b in cr.embedding))
            key = (-round(dot / (na * nb), 4), cr.vec_id)
            if best is None or key < best[0]:
                best = (key, cr.vec_id)
        if best:
            exact_best[qr.vec_id] = best[1]
    got = {
        (r.query_id, r.neighbor_id) for r in cand.collect()
    }
    missing = [
        (q, b) for q, b in exact_best.items() if (q, b) not in got
    ]
    assert not missing, missing


def test_rank_count_blocked_reconstructs_exact_rank(spark, sf_dir):
    """rank_count_blocked: 1 + certain_above + resolved band must equal
    the brute-force rank of the threshold row under
    (ROUND(cos,4) desc, id) — checked for every query against an
    in-Python oracle."""
    import math

    from adb_south_caucasus_etl_spark.operators.similarity import (
        rank_count_blocked,
    )

    emb = Catalog(spark, sf_dir).embeddings
    rows = emb.collect()

    def rcos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(y) ** 2 for y in b))
        return round(dot / (na * nb), 4)

    # threshold = each query's cosine to a fixed partner (vec_id+1)
    by_id = {r.vec_id: r for r in rows}
    qrows = [r for r in rows if r.vec_id % 11 == 0 and r.vec_id + 1 in by_id]
    t_map = {
        r.vec_id: rcos(r.embedding, by_id[r.vec_id + 1].embedding)
        for r in qrows
    }
    qdf = (
        emb.filter(F.col("vec_id") % 11 == 0)
        .join(
            spark.createDataFrame(
                [(k, v) for k, v in t_map.items()], "vec_id long, t double"
            ),
            "vec_id",
        )
    )
    rc = rank_count_blocked(qdf, emb, threshold_col="t")
    certain = {
        r.query_id: r.s
        for r in rc.filter(F.col("neighbor_id").isNull())
        .groupBy("query_id")
        .agg(F.sum("certain_above").alias("s"))
        .collect()
    }
    band = {}
    for r in rc.filter(F.col("neighbor_id").isNotNull()).collect():
        band.setdefault(r.query_id, []).append(r.neighbor_id)
    for q in qrows:
        t = t_map[q.vec_id]
        # engine-side resolution stand-in: re-score band pairs exactly
        resolved = sum(
            1
            for cid in band.get(q.vec_id, [])
            if rcos(q.embedding, by_id[cid].embedding) > t
        )
        got = 1 + certain.get(q.vec_id, 0) + resolved
        want = 1 + sum(
            1
            for c in rows
            if c.vec_id != q.vec_id and rcos(q.embedding, c.embedding) > t
        )
        assert got == want, (q.vec_id, got, want)


def test_knn_candidates_blocked_excludes_self_even_in_tiny_cells(spark):
    """Self-pairs must never surface, including the k-th-statistic edge
    case where a cell holds <= k corpus rows (kth = -inf would readmit
    the -inf self-mask without the explicit ~self_mask filter)."""
    from adb_south_caucasus_etl_spark.operators.similarity import (
        knn_candidates_blocked,
    )

    df = spark.createDataFrame(
        [(i, [float(i + 1), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    out = knn_candidates_blocked(
        df, df, k=5, n_query_blocks=2, n_corpus_blocks=2
    ).collect()
    assert out, "expected candidates"
    assert all(r.query_id != r.neighbor_id for r in out)


def _topk_rows_nan_safe(df):
    """(query_id, neighbor_id, rank, cosine-or-'nan') tuples — NaN-aware
    because zero-norm vectors legitimately emit NaN cosines and
    NaN != NaN would make a correct comparison fail."""
    import math

    return sorted(
        (
            r.query_id,
            r.neighbor_id,
            r.rank,
            "nan" if r.cosine is None or math.isnan(r.cosine) else r.cosine,
        )
        for r in df.collect()
    )


def test_knn_blocked_zero_norm_vectors_match_exact(spark):
    """Zero-norm embeddings produce NaN cosines, which both engines rank
    ABOVE every finite double. The blocked prune maps them to +inf so
    they survive; the pre-r8 isfinite filter silently dropped them — and
    once a cell held >= k zero-norm corpus rows the k-th statistic became
    +inf and the filter dropped the ENTIRE cell (every finite candidate
    too). Both regressions are pinned here: with 7 zero-norm corpus rows
    and k=5, single-cell and 2x2 grids must both reproduce
    cosine_topk_exact row-for-row, NaN cosines included."""
    from adb_south_caucasus_etl_spark.operators.similarity import (
        cosine_topk_blocked,
    )

    rows = []
    for i in range(24):
        if i % 7 < 2:  # 7 zero-norm rows spread across ids
            v = [0.0, 0.0, 0.0]
        else:
            v = [float(i + 1), float((i * 3) % 5), 1.0]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") % 4 == 0)
    corpus = df.filter(F.col("vec_id") % 4 != 0)
    assert corpus.filter(
        F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x) == 0.0
    ).count() >= 5, "fixture must hold >= k zero-norm corpus rows"
    exact = _topk_rows_nan_safe(cosine_topk_exact(corpus, queries, k=5))
    for nq, nc in ((1, 1), (2, 2)):
        blocked = _topk_rows_nan_safe(
            cosine_topk_blocked(
                corpus, queries, k=5, n_query_blocks=nq, n_corpus_blocks=nc
            )
        )
        assert blocked == exact, f"grid {nq}x{nc} diverged from exact"


def test_knn_match_cols_null_labels_never_match(spark):
    """match_cols equality is SQL equality: a NULL-label query must NOT
    pair with NULL-label corpus rows (the grouping key the cells are
    built on treats NULL = NULL as equal, so the operator drops NULL-key
    rows on both sides up front)."""
    from adb_south_caucasus_etl_spark.operators.similarity import (
        knn_candidates_blocked,
    )

    rows = [
        (0, [1.0, 0.0], None),
        (1, [0.9, 0.1], None),
        (2, [0.0, 1.0], "a"),
        (3, [0.1, 0.9], "a"),
        (4, [0.2, 0.8], "a"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    cand = knn_candidates_blocked(
        df, df, k=2, match_cols=["label"], n_query_blocks=2, n_corpus_blocks=2
    ).collect()
    assert cand, "labelled rows must still produce candidates"
    ids = {r.query_id for r in cand} | {r.neighbor_id for r in cand}
    assert ids <= {2, 3, 4}, (
        f"NULL-label rows leaked into the filtered-NN candidates: {sorted(ids)}"
    )


def test_ivf_recall_vs_exact(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_exact(emb, q, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, q, k=10, nbits=3, num_tables=12, dim=64).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall} below gate"


def test_ivf_trained_recall_vs_exact(spark, sf_dir):
    """The trained-centroid IVF must clear a STRICTLY HIGHER recall
    floor (0.9) than the sign-LSH variant's 0.8 on the same corpus —
    the point of training the quantizer (VERDICT r11 item 2). Measured
    0.94 at sf0.001, the gate's worst SF."""
    from adb_south_caucasus_etl_spark.operators.similarity import (
        ivf_trained_topk,
    )

    emb = Catalog(spark, sf_dir).embeddings
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_exact(emb, q, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_trained_topk(
            emb, q, k=10, n_cells=16, nprobe=8, spill=2
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"trained-IVF recall {recall} below gate"


def test_ivf_trained_exploits_planted_clusters(spark):
    """On CLUSTERED data (the case the quantizer is trained FOR), a
    single probed cell with no spill already recovers the exact top-k:
    8 well-separated planted directions, every neighbor of a query
    lives in the query's own cell. Also pins determinism (two runs,
    identical output) and the zero-norm contract (a zero vector is
    dropped from the index, never crashes training)."""
    import numpy as np

    from adb_south_caucasus_etl_spark.operators.clustering import (
        spherical_centroids,
    )
    from adb_south_caucasus_etl_spark.operators.similarity import (
        ivf_trained_topk,
    )

    rng = np.random.RandomState(11)
    dirs = rng.randn(8, 32)
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    rows = []
    for i in range(160):
        base = dirs[i % 8]
        v = base + rng.randn(32) * 0.05
        rows.append((i, [float(x) for x in v]))
    rows.append((999, [0.0] * 32))  # zero-norm: dropped from the index
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    cents = spherical_centroids(df, k=8, iterations=5)
    assert all(
        abs(sum(x * x for x in c) - 1.0) < 1e-9 for c in cents
    ), "centroids must be unit-norm"
    assert cents == spherical_centroids(df, k=8, iterations=5)

    q = df.filter(F.col("vec_id") < 4)
    # exact baseline over the non-degenerate corpus: cosine against the
    # zero vector is NaN, which the exact ranker sorts FIRST (the
    # module's documented NaN contract) while the trained index drops
    # zero-norm rows as unreachable — the documented divergence
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_exact(
            df.filter(F.col("vec_id") != 999), q, k=5
        ).collect()
    }
    approx_rows = ivf_trained_topk(
        df, q, k=5, n_cells=8, nprobe=1, spill=1
    ).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    assert all(r.neighbor_id != 999 for r in approx_rows), (
        "zero-norm vector must be dropped from the trained index"
    )
    assert approx == exact, (
        "nprobe=1 on well-separated clusters must already be exact: "
        f"missing {sorted(exact - approx)}"
    )


def test_spherical_centroids_shared_unit_bit_identical(spark, sf_dir):
    """The r15 shared-unit fast path (caller passes the pinned
    ``_unit_vectors`` frame so trainer and encoder split one scan +
    checkpoint) must produce BIT-IDENTICAL centroids to the
    normalize-inside path: the two normalizations are expression-for-
    expression the same float pipeline (``zip_with(v,v,x*y)`` vs
    ``transform(v,x*x)``), and ivf_pq_index's stamped ledgers/audits
    ride on that equality."""
    from adb_south_caucasus_etl_spark.operators.clustering import (
        spherical_centroids,
    )
    from adb_south_caucasus_etl_spark.operators.similarity import (
        _unit_vectors,
    )

    emb = Catalog(spark, sf_dir).embeddings
    old = spherical_centroids(emb, k=16, iterations=5)
    unit = _unit_vectors(emb, "vec_id", "embedding").localCheckpoint(
        eager=True
    )
    new = spherical_centroids(emb, k=16, iterations=5, unit=unit)
    assert old == new


def test_lit_double_array_bit_identical(spark):
    """The one-parse literal-array builder (r15: kmeans_lloyd spent
    3.2 s of a 4.0 s wall in per-scalar py4j literal construction) must
    yield BIT-IDENTICAL doubles to the F.lit form — including -0.0
    sign, subnormals, and the non-finite fallback path."""
    import math
    import struct

    from pyspark.sql import functions as F

    from adb_south_caucasus_etl_spark.operators.clustering import (
        lit_double_array,
    )

    vals = [
        1e-05, -0.0, 0.0, 1.5, -1.5, 123456789.123456789,
        2.2250738585072014e-308, 1.7976931348623157e+308,
        3.333333333333333e-07, -9.87654321e+15, 0.1, 1 / 3,
    ]
    row = (
        spark.range(1)
        .select(
            lit_double_array(vals).alias("fast"),
            F.array(*[F.lit(float(x)) for x in vals]).alias("slow"),
        )
        .collect()[0]
    )
    for a, b, v in zip(row["fast"], row["slow"], vals):
        assert struct.pack("<d", a) == struct.pack("<d", b)
        assert struct.pack("<d", a) == struct.pack("<d", v)
    # non-finite values take the py4j fallback (SQL has no inf literal)
    nf = (
        spark.range(1)
        .select(lit_double_array([1.0, float("inf")]).alias("a"))
        .collect()[0]["a"]
    )
    assert nf[0] == 1.0 and math.isinf(nf[1])


def test_estimated_rows_and_derived_grid(spark, sf_dir):
    """VERDICT r08 item 5: blocked-GEMM grids derive from Catalyst stats
    when the caller passes no explicit grid. Exact on rowCount-bearing
    plans (Range), order-of-magnitude on parquet scans, and the derived
    grid always meets the defaultParallelism floor on feasible inputs."""
    from adb_south_caucasus_etl_spark.operators.similarity import (
        derived_gemm_grid,
        estimated_rows,
    )

    assert estimated_rows(spark.range(1234)) == 1234
    # a FILTERED stat-less (LogicalRDD-leaf) frame reports the unknown
    # sentinel scaled by filter selectivity — plausible-looking bogus
    # bytes; leaf inspection must route it to the exact-count fallback
    # instead of deriving a ~1e15-row grid that overflows the block cast
    rdd_frame = spark.createDataFrame(
        [(i, [float(i)]) for i in range(100)],
        "vec_id long, embedding array<double>",
    ).filter(F.col("vec_id") < 50)
    assert estimated_rows(rdd_frame) == 50
    # ADVICE r09 item 2: the exact-count fallback is a hidden full job —
    # silent on trivial lineages (above), but a deeper plan must warn so
    # call sites notice they are double-executing an expensive pipeline
    deep = rdd_frame.join(
        rdd_frame.select(F.col("vec_id").alias("other_id")),
        F.col("vec_id") == F.col("other_id"),
    )
    with pytest.warns(RuntimeWarning, match="exact-count fallback"):
        assert estimated_rows(deep) == 50
    emb = Catalog(spark, sf_dir).embeddings
    est = estimated_rows(emb)
    true = emb.count()
    # VERDICT r09 item 8: a single-parquet-leaf scan is sized against
    # the table's FOOTER-TRUE bytes-per-row, so the estimate is the
    # footer row count EXACTLY, not a width-heuristic order of magnitude
    assert est == true, (est, true)
    from adb_south_caucasus_etl_spark.operators.similarity import (
        estimated_rows_exact,
        gemm_grid,
    )

    est2, exact = estimated_rows_exact(emb)
    assert (est2, exact) == (true, True)
    # a FILTERED single-leaf scan must NOT be mistaken for an untouched
    # one (without CBO, Filter passes sizeInBytes through unchanged):
    # it runs one cheap pushdown count and returns the TRUE slice size —
    # a footer upper bound here would overshoot grid cells by the square
    # of the selectivity
    sliced = emb.filter(F.col("vec_id") % 100 == 0)
    est3, exact3 = estimated_rows_exact(sliced)
    assert (est3, exact3) == (sliced.count(), True)
    assert est3 < true
    # ADVICE r10: footer truth is only used for SINGLE-root relations —
    # a multi-root scan counted from rootPaths[0] alone would be an
    # exact-labeled UNDER-count, shrinking the grid so per-cell GEMM
    # memory bursts. A two-root read must take the exact-count path
    # (VERDICT r10 item 8 retired the width heuristic) and see BOTH
    # roots' rows.
    import os as _os

    two_root = spark.read.parquet(
        _os.path.join(sf_dir, "embeddings.parquet"),
        _os.path.join(sf_dir, "embeddings.parquet"),
    )
    est_mr, exact_mr = estimated_rows_exact(two_root)
    assert (est_mr, exact_mr) == (two_root.count(), True), (
        est_mr, exact_mr,
    )
    assert est_mr > true  # not the single-root footer count
    nq, nc = derived_gemm_grid(emb, emb)
    floor = spark.sparkContext.defaultParallelism
    # the parallelism floor is work-damped: cells only multiply while
    # each keeps >= 2^20 score pairs (est is the derivation's own input)
    assert nq * nc >= min(floor, max(1, (est * est) >> 20)), (nq, nc, floor)
    # footer-true sides pay NO estimate headroom: the derived grid is
    # the FULL-budget grid for the true counts (a guessed side would
    # divide the budget by ESTIMATE_BUDGET_HEADROOM and widen the grid)
    assert (nq, nc) == gemm_grid(
        true, true, 256 << 20, min_cells=max(1, floor)
    ), (nq, nc)
    # explicit override must win over derivation
    from adb_south_caucasus_etl_spark.operators.similarity import (
        knn_candidates_blocked,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    out = knn_candidates_blocked(
        df, df, k=2, n_query_blocks=1, n_corpus_blocks=1
    )
    # the explicit 1x1 grid shows up as a single-row Range leaf; a derived
    # grid on this session (defaultParallelism floor ≥ 2) never would
    plan = out._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "range (0, 1," in plan, plan
    assert out.count() >= 6


def test_ivf_static_plan_carries_no_broadcast_hint(spark, sf_dir):
    """VERDICT r08 item 4: ivf_topk must not HINT a broadcast of the probe
    side — a held-out query split can be a data-scale fraction of the
    corpus, and the hinted frame is a Generate (posexplode) output the
    broadcast audit cannot bound. Pin the STATIC analyzed plan hint-free;
    AQE remains free to broadcast small probes from runtime sizes (so
    the executed plan is deliberately NOT asserted here)."""
    emb = Catalog(spark, sf_dir).embeddings
    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=3, dim=64)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed, (
        "broadcast hint reintroduced into ivf_topk's static plan:\n" + analyzed
    )


def test_ivf_requires_dim_without_metadata(spark, sf_dir):
    # no dim arg and no column metadata → plan-build error, never a data probe
    emb = Catalog(spark, sf_dir).embeddings
    with pytest.raises(ValueError, match="dim"):
        ivf_topk(emb, emb.limit(1), k=5)


def test_ivf_reads_dim_from_column_metadata(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    tagged = emb.withMetadata("embedding", {"dim": 64})
    out = ivf_topk(tagged, tagged.filter(F.col("vec_id") == 0), k=5)
    assert out.count() == 5


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "")], "doc_id long, text string")
    rows = {
        r.doc_id: r
        for r in extract_byte_features(with_binary_payload(df)).collect()
    }
    assert rows[1].byte_len == 3
    assert rows[1].first_byte == ord("a") and rows[1].last_byte == ord("c")
    assert rows[1].ascii_ratio == 1.0
    assert rows[2].byte_len == 0 and rows[2].first_byte == -1


def test_sample_frames_chunks_and_stride(spark):
    from adb_south_caucasus_etl_spark.operators.multimodal import sample_frames

    # 10-byte payload, 4-byte frames, stride 2 → chunks 0..2, keep 0 and 2;
    # the last chunk is partial (2 bytes)
    df = spark.createDataFrame(
        [(1, b"0123456789"), (2, b""), (3, b"ab")],
        "doc_id long, payload binary",
    )
    rows = sorted(
        sample_frames(df, frame_bytes=4, stride=2).collect(),
        key=lambda r: (r.doc_id, r.frame_idx),
    )
    assert [(r.doc_id, r.frame_idx, bytes(r.frame), r.frame_len) for r in rows] == [
        (1, 0, b"0123", 4),
        (1, 2, b"89", 2),
        (3, 0, b"ab", 2),
    ]


def _has_pil() -> bool:
    from adb_south_caucasus_etl_spark.operators.multimodal import _pil_image

    return _pil_image() is not None


@pytest.mark.skipif(_has_pil(), reason="Pillow installed: decode is real")
def test_decode_image_declared_unavailable_without_pil(spark):
    df = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
    with pytest.raises(NotImplementedError, match="Pillow"):
        decode_image(df)


@pytest.mark.skipif(not _has_pil(), reason="Pillow not installed")
def test_decode_image_real_decode_with_pil(spark):
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (13, 7), (255, 0, 0)).save(buf, format="PNG")
    df = spark.createDataFrame(
        [(1, buf.getvalue()), (2, b"not-an-image")],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in decode_image(df, thumb_px=4).collect()}
    assert (rows[1].width, rows[1].height, rows[1].channels) == (13, 7, 3)
    thumb = Image.open(io.BytesIO(bytes(rows[1].thumb)))
    assert thumb.size == (4, 4)
    # corrupt payloads degrade to sentinel rows, never a dead task
    assert (rows[2].width, rows[2].height, rows[2].channels) == (-1, -1, -1)
    assert bytes(rows[2].thumb) == b""


def test_char_ngram_jaccard_and_df_cap(spark):
    from adb_south_caucasus_etl_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [
            (1, "abcdefgh"),
            (2, "abcdefgh"),          # exact copy of 1
            (3, "abcdefxx"),          # shares a prefix with 1/2
            (4, "zzzzzzzz"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(
            df, "doc_id", "text", n=4, threshold=0.99, unit="char"
        ).collect()
    }
    assert pairs == {(1, 2): 1.0}
    # df cap: 'abcd' appears in 3 docs; capping at 2 removes it from the
    # universe, so 1-2 remain identical over the remaining grams
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(
            df, "doc_id", "text", n=4, threshold=0.99, unit="char", max_df=2
        ).collect()
    }
    assert capped == {(1, 2): 1.0}


def test_text_profile_staged_single_tokenizer(spark):
    from adb_south_caucasus_etl_spark.functions.text import (
        lang_id_from_tokens,
        text_profile,
        tokens,
    )

    df = spark.createDataFrame(
        [("the cat and the dog went to the park",), ("a b!!",)],
        "text string",
    )
    rows = text_profile(df, "text").collect()
    r0, r1 = rows
    assert r0.n_tok == 9 and r0.n_distinct_tok == 7
    assert r1.n_tok == 2 and r1.bpe_tok == 4  # a, b, !, !
    assert 0.0 <= r1.quality <= r0.quality <= 1.0
    # exactly one tokenizer in the optimized plan (staging contract)
    plan = (
        text_profile(df, "text")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(trim") == 1
    # lang_id over the staged token array agrees with the labeled sentence
    out = df.select(
        lang_id_from_tokens(tokens("text")).alias("lang")
    ).collect()
    assert out[0].lang == "en"


def test_connected_components_chain_and_singleton_pair(spark):
    from adb_south_caucasus_etl_spark.operators.dedup import (
        connected_components,
    )

    # chain 1-2-3-4 (diameter 3, needs >1 propagation round), pair 10-11,
    # and an isolated pair 7-7 self-loop is not representable — edges only
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a bigint, id_b bigint"
    )
    got = {
        r.node: r.label for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_neardup_clusters_partitions_pair_graph(spark, sf_dir):
    from adb_south_caucasus_etl_spark.workload import (
        neardup_clusters,
        neardup_jaccard_pairs,
    )

    pairs = neardup_jaccard_pairs(spark, sf_dir).collect()
    clusters = neardup_clusters(spark, sf_dir).collect()
    label = {r.doc_id: r.cluster_id for r in clusters}
    # every paired doc is clustered; both ends of a pair share a label
    for p in pairs:
        assert label[p.id_a] == label[p.id_b]
    # labels are component minima and survivors are exactly the minima
    for r in clusters:
        assert r.cluster_id <= r.doc_id
        assert r.keep == (r.cluster_id == r.doc_id)
    assert set(label.values()) <= set(label)


def test_cosine_pairs_blocked_equals_expression_form(spark, sf_dir):
    from adb_south_caucasus_etl_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_blocked,
    )

    emb = Catalog(spark, sf_dir).embeddings
    ref = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_pairs(emb, threshold=0.4).collect()
    }
    blk = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_pairs_blocked(emb, threshold=0.4, n_blocks=5).collect()
    }
    assert ref == blk and len(ref) > 0


def test_gemm_grid_sizing_arithmetic():
    """gemm_grid must GUARANTEE the per-cell float64 score matrix fits the
    byte budget, put more blocks on the larger side (replication-optimal
    split), and degrade gracefully at the edges."""
    from adb_south_caucasus_etl_spark.operators.similarity import gemm_grid

    def cell_bytes(q, c, nq, nc):
        return (q / nq) * (c / nc) * 8

    for q, c, budget in [
        (1_000_000, 100_000_000, 256 << 20),
        (10_000, 10_000, 1 << 20),
        (3_000, 60_000, 64 << 20),
        (60_000, 3_000, 64 << 20),
        (1, 1_000_000_000, 256 << 20),
    ]:
        nq, nc = gemm_grid(q, c, budget)
        assert 1 <= nq <= q and 1 <= nc <= c, (q, c, nq, nc)
        assert cell_bytes(q, c, nq, nc) <= budget, (q, c, nq, nc)
        # within 4x of the continuous replication optimum 2*sqrt(k*Q*C)
        import math

        k = max(1.0, 8.0 * q * c / budget)
        optimum = 2 * math.sqrt(k * q * c)
        actual = q * nc + c * nq
        assert actual <= 4 * optimum + q + c, (q, c, nq, nc, actual, optimum)
    # more blocks land on the larger side
    nq, nc = gemm_grid(1_000, 1_000_000, 1 << 20)
    assert nc > nq
    # tiny inputs: nothing to split
    assert gemm_grid(10, 10, 256 << 20) == (1, 1)
    assert gemm_grid(0, 100, 256 << 20) == (1, 1)


@settings(max_examples=120, deadline=None)
@given(
    st.integers(min_value=1, max_value=10**9),
    st.integers(min_value=1, max_value=10**9),
    st.integers(min_value=1024, max_value=1 << 40),
    st.integers(min_value=1, max_value=4096),
)
def test_gemm_grid_budget_invariant_fuzz(q, c, budget, min_cells):
    """Property: for ANY sizes, budget, and parallelism floor, the
    returned grid is valid (1..n per side), the per-cell float64 matrix
    fits the budget whenever a fitting grid exists at all (1x1 cells are
    8 bytes), and the WORK-DAMPED floor is met: the grid reaches
    min_cells only while every cell can keep >= 2^20 score pairs —
    below that, extra cells are pure per-group overhead and the floor
    deliberately yields (small inputs get small grids)."""
    from adb_south_caucasus_etl_spark.operators.similarity import gemm_grid

    nq, nc = gemm_grid(q, c, budget, min_cells=min_cells)
    assert 1 <= nq <= q and 1 <= nc <= c
    # integer form of (q/nq)*(c/nc)*8 <= budget: float grouping error at
    # the exact-equality boundary (settled grids hit nq*nc == k) would
    # otherwise fail a budget that holds precisely
    assert q * c * 8 <= budget * nq * nc, (nq, nc)
    damped = min(min_cells, max(1, (q * c) >> 20))
    assert nq * nc >= damped, (nq, nc, min_cells, damped)


def test_cosine_pairs_zero_norm_rows_match_between_forms(spark):
    """Zero-norm embeddings: the exact form emits an explicit NaN cosine
    (guarded division — ANSI mode would otherwise raise DIVIDE_BY_ZERO),
    which passes the >= threshold filter because Spark orders NaN above
    every double; the blocked form's numpy +inf marker must map back to
    the same NaN so both forms agree pair-for-pair."""
    import math

    from adb_south_caucasus_etl_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_blocked,
    )

    rows = [(i, [0.0, 0.0] if i < 3 else [1.0, float(i)]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def canon(out):
        return sorted(
            (
                r.id_a,
                r.id_b,
                "nan" if r.cosine is None or math.isnan(r.cosine) else r.cosine,
            )
            for r in out.collect()
        )

    ref = canon(cosine_pairs(df, threshold=0.9))
    blk = canon(cosine_pairs_blocked(df, threshold=0.9, n_blocks=3))
    assert ref == blk
    # every pair touching a zero-norm row (ids 0-2) is NaN and KEPT
    nan_pairs = {(a, b) for a, b, c in ref if c == "nan"}
    assert {(0, 1), (0, 2), (1, 2)} <= nan_pairs
    assert all(a < 3 or b < 3 for a, b in nan_pairs)


class TestSpanCorpusDedup:
    def test_first_occurrence_wins_and_reassembly(self, spark):
        from adb_south_caucasus_etl_spark.operators.dedup import (
            span_corpus_dedup,
        )

        w8 = " ".join(f"w{i}" for i in range(8))  # one full span
        rows = [
            (1, w8 + " tail one"),          # spans: [w8], [tail one]
            (2, w8 + " tail two"),          # first span duplicates doc 1's
            (3, "tail one"),                # duplicates doc 1's 2nd span
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r
            for r in span_corpus_dedup(df, "doc_id", "text", 8).collect()
        }
        assert out[1]["clean_text"] == w8 + " tail one"
        assert out[1]["n_spans_removed"] == 0
        assert out[2]["clean_text"] == "tail two"
        assert out[2]["n_spans_removed"] == 1
        # doc 3's only span was seen at doc 1 → doc drops out entirely
        assert 3 not in out

    def test_short_doc_single_span(self, spark):
        from adb_south_caucasus_etl_spark.operators.dedup import (
            span_corpus_dedup,
        )

        df = spark.createDataFrame(
            [(1, "just three words")], "doc_id long, text string"
        )
        [r] = span_corpus_dedup(df, "doc_id", "text", 8).collect()
        assert r["clean_text"] == "just three words"
        assert r["n_spans_removed"] == 0

    def test_null_and_empty_text_dropped_not_garbage(self, spark):
        # regression (r4 ADVICE): with ANSI off, size(null)=-1 made
        # sequence(0,-1) yield [0,-1] and null-text docs collided into a
        # single empty survivor with n_spans_removed=-1; they must
        # simply be absent, independent of the ANSI setting
        from adb_south_caucasus_etl_spark.operators.dedup import (
            span_corpus_dedup,
        )

        df = spark.createDataFrame(
            [(1, "real words here"), (2, None), (3, ""), (4, "   ")],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in span_corpus_dedup(df, "doc_id", "text", 8).collect()
        }
        assert set(out) == {1}
        assert out[1]["clean_text"] == "real words here"
        assert out[1]["n_spans_removed"] == 0


class TestIncrementalJaccard:
    def test_only_new_vs_corpus_pairs(self, spark):
        from adb_south_caucasus_etl_spark.operators.dedup import (
            jaccard_pairs_incremental,
        )

        text = "a b c d e f g h"
        corpus = spark.createDataFrame(
            [(1, text), (2, text)], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(10, text), (11, "x y z q r s")], "doc_id long, text string"
        )
        out = jaccard_pairs_incremental(
            new, corpus, "doc_id", "text", n=3, threshold=0.5
        ).collect()
        pairs = {(r["new_id"], r["corpus_id"]) for r in out}
        # the identical corpus pair (1,2) must NOT appear; both new-vs-old
        # matches for doc 10 must
        assert pairs == {(10, 1), (10, 2)}
        assert all(r["jaccard"] == 1.0 for r in out)


class TestKnnClassify:
    def test_majority_vote_with_tiebreak(self, spark):
        from adb_south_caucasus_etl_spark.operators.similarity import (
            knn_classify,
        )

        # corpus: 3 vectors near +x labeled 1, 2 near +y labeled 0;
        # query at +x → 3 votes for label 1
        corpus = spark.createDataFrame(
            [
                (1, [1.0, 0.0], 1),
                (2, [0.9, 0.1], 1),
                (3, [0.8, 0.2], 1),
                (4, [0.0, 1.0], 0),
                (5, [0.1, 0.9], 0),
            ],
            "vec_id long, embedding array<float>, label int",
        )
        queries = spark.createDataFrame(
            [(100, [1.0, 0.05], None)],
            "vec_id long, embedding array<float>, label int",
        )
        [r] = knn_classify(corpus, queries, k=5).collect()
        assert r["predicted_label"] == 1
        assert r["n_votes"] == 3


class TestQuantizeInt8:
    def test_roundtrip_and_guards(self, spark):
        from adb_south_caucasus_etl_spark.operators.similarity import (
            quantize_embeddings_int8,
        )

        df = spark.createDataFrame(
            [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        rows = {r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()}
        assert rows[1]["scale"] == 2.0
        # 1.0*127/2 = 63.5 → half-away = 64; -2 → -127; 0.5*127/2 = 31.75 → 32
        assert rows[1]["q"] == [64, -127, 32]
        # all-zero vector: scale 0, q all 0 (no div-by-zero)
        assert rows[2]["scale"] == 0.0 and rows[2]["q"] == [0, 0, 0]

    def test_balanced_ragged_batch_fails_loudly(self, spark):
        from adb_south_caucasus_etl_spark.operators.similarity import (
            quantize_embeddings_int8,
        )

        # dims 4 and 2: total 6 elements / 2 rows divides evenly — a
        # total-count check would reshape silently-misaligned vectors;
        # the per-row offsets guard must raise instead
        df = spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0, 4.0]), (2, [5.0, 6.0])],
            "vec_id long, embedding array<float>",
        ).coalesce(1)
        with pytest.raises(Exception, match="fixed-dim"):
            quantize_embeddings_int8(df).collect()

    def test_all_empty_batch_fails_loudly(self, spark):
        from adb_south_caucasus_etl_spark.operators.similarity import (
            quantize_embeddings_int8,
        )

        df = spark.createDataFrame(
            [(1, []), (2, [])], "vec_id long, embedding array<float>"
        ).coalesce(1)
        with pytest.raises(Exception, match="fixed-dim"):
            quantize_embeddings_int8(df).collect()


class TestPPJoin:
    def test_matches_full_inverted_index(self, spark, docs):
        from adb_south_caucasus_etl_spark.operators.dedup import (
            jaccard_pairs,
            jaccard_pairs_ppjoin,
        )

        full = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
        }
        pp = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_pairs_ppjoin(docs, "doc_id", "text", n=3, threshold=0.5).collect()
        }
        assert pp == full

    def test_stop_shingle_corpus_no_cap_needed(self, spark, stopword_corpus):
        # every doc shares the same boilerplate shingle; the full join
        # needs max_df to avoid p*(p-1)/2 candidates, PPJoin's
        # rarest-first prefixes exclude it structurally — and the answer
        # must still be the exact uncapped one
        from adb_south_caucasus_etl_spark.operators.dedup import (
            jaccard_pairs,
            jaccard_pairs_ppjoin,
        )

        _rows, df = stopword_corpus
        full = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=0.3
            ).collect()
        }
        pp = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_pairs_ppjoin(
                df, "doc_id", "text", n=3, threshold=0.3
            ).collect()
        }
        assert pp == full
        assert (100, 101) in pp  # the planted near-dup pair


def test_perceptual_frame_hash_planted_near_dups(spark):
    """VERDICT r09 item 7: near-identical frames (1-pixel noise) must
    share the 64-bit average-hash — and therefore every band bucket —
    while a genuinely different frame lands elsewhere; partial tail
    frames carry no 8x8 grid and are filtered; the keep passthrough
    rides along for exact-merge accounting."""
    from adb_south_caucasus_etl_spark.operators.multimodal import (
        perceptual_frame_hash,
    )

    base = list(range(64))
    noisy = [1] + base[1:]  # +1 on a far-from-mean pixel: same key
    other = list(reversed(base))  # inverted ramp: opposite key
    rows = [
        (1, 0, bytearray(base)),
        (2, 0, bytearray(noisy)),
        (3, 0, bytearray(other)),
        (4, 0, bytearray(base[:32])),  # partial frame: dropped
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, frame_idx int, frame binary"
    )
    out = perceptual_frame_hash(
        df, keep={"eh": F.md5(F.col("frame"))}
    ).collect()
    byid = {r.doc_id: r for r in out}
    assert set(byid) == {1, 2, 3}, byid
    a, b, c = byid[1], byid[2], byid[3]
    # exact hashes all differ; perceptual key merges the planted pair
    assert len({a.eh, b.eh, c.eh}) == 3
    assert (a.ah_hi, a.ah_lo) == (b.ah_hi, b.ah_lo)
    assert (a.ah_hi, a.ah_lo) != (c.ah_hi, c.ah_lo)
    # banded grouping: the near-dup pair collides on EVERY band; the
    # Hamming-64 opposite on none (ramp keys are band-disjoint)
    for band in ("band0", "band1", "band2", "band3"):
        assert getattr(a, band) == getattr(b, band)
    assert all(
        getattr(a, band) != getattr(c, band)
        for band in ("band0", "band1", "band2", "band3")
    )
    # the verifier arithmetic the banded buckets feed: XOR popcount
    ham = bin((a.ah_hi ^ c.ah_hi) << 32 | (a.ah_lo ^ c.ah_lo)).count("1")
    assert ham == 64


@pytest.mark.parametrize(
    "name",
    [
        "multimodal_perceptual_dup_census",
        "multimodal_perceptual_near_pairs",
        "multimodal_perceptual_cross_doc",
    ],
)
def test_perceptual_queries_pin_shared_frame(name, spark):
    """VERDICT r10 item 1: each perceptual query MATERIALIZES its
    shared frame-hash derivative once (eager localCheckpoint) so its
    multi-key consumers stop re-running the documents scan + Arrow
    chunker (9x/5x/3x observed). The final plan must therefore contain
    ZERO parquet scans and ZERO Python stages — every consumer reads
    the pinned RDD; the one real scan+chunk ran inside the checkpoint
    job. ReusedExchange was the previous (insufficient) discipline:
    consumers grouping by different keys fork above any shareable
    exchange."""
    from adb_south_caucasus_etl_spark.workload import WORKLOAD

    df = WORKLOAD[name].fn(spark, "/root/testdata/sf0.001")
    df.collect()  # AQE: the honest shape is the FINAL plan
    plan = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("MapInPandas") == 0, plan
    assert plan.count("Scan ExistingRDD") >= 1, plan


def test_perceptual_near_dup_pairs_operator(spark):
    """The pair retrieval operator: planted near-dups meet in a band
    bucket and verify at their true Hamming distance; the hot-bucket
    cap drops oversized buckets from the join. Also pins the reuse
    discipline: the shared band-bucket frame must use a DETERMINISTIC
    key-grain collapse (distinct), because a first()-style aggregate
    blocks plan canonicalization and with it every ReusedExchange."""
    from adb_south_caucasus_etl_spark.operators.multimodal import (
        perceptual_frame_hash,
        perceptual_near_dup_pairs,
    )

    base = list(range(64))
    rows = [
        (1, 0, bytearray(base)),
        # 2 bits flipped vs base: pixel 31 (just below mean) pushed above
        (2, 0, bytearray(base[:31] + [63] + base[32:])),
        (3, 0, bytearray(reversed(base))),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, frame_idx int, frame binary"
    )
    keys = perceptual_frame_hash(df)
    pairs = {
        ((r.hi_a, r.lo_a), (r.hi_b, r.lo_b)): r.hamming
        for r in perceptual_near_dup_pairs(keys).collect()
    }
    byid = {r.doc_id: (r.ah_hi, r.ah_lo) for r in keys.collect()}
    k1, k2, k3 = byid[1], byid[2], byid[3]
    assert k1 != k2, "perturbation should flip at least one bit"
    near = pairs.get((min(k1, k2), max(k1, k2)))
    assert near is not None and 1 <= near <= 3, (pairs, byid)
    # the Hamming-64 opposite shares no band: never even a candidate
    assert (min(k1, k3), max(k1, k3)) not in pairs
    # hot-bucket cap: with max_bucket=1, every bucket is oversized and
    # no pair survives
    assert perceptual_near_dup_pairs(keys, max_bucket=1).count() == 0
    # ambiguous call: silently preferring one input would pair the
    # wrong key set
    with pytest.raises(ValueError, match="not both"):
        perceptual_near_dup_pairs(keys, buckets=keys)


def test_near_dup_pairs_hot_band_does_not_suppress(spark):
    """The first-collision dedup must be HOTNESS-AWARE: a true near-dup
    pair whose lowest shared band is HOT (skipped from the join) must
    still be emitted from a later cool shared band — suppressing on any
    earlier collision regardless of hotness silently loses recoverable
    pairs on degenerate-content corpora (the recall regression a review
    pass caught before it shipped)."""
    from adb_south_caucasus_etl_spark.operators.multimodal import (
        perceptual_near_dup_pairs,
    )

    def key(b0, b1, b2, b3):
        lo = (b1 << 16) | b0
        hi = (b3 << 16) | b2
        return (hi, lo, b0, b1, b2, b3)

    # A and B: Hamming 1 (band2 differs by one bit), sharing band0=1
    # (which 5 keys make HOT under max_bucket=4) and band1=5 (cool,
    # only A and B). C/D/E pad band0's bucket and share nothing else.
    rows = [
        key(1, 5, 0, 9),   # A
        key(1, 5, 1, 9),   # B  (band2: 0 vs 1 -> Hamming 1)
        key(1, 70, 30, 40),  # C
        key(1, 71, 31, 41),  # D
        key(1, 72, 32, 42),  # E
    ]
    keys = spark.createDataFrame(
        rows,
        "ah_hi long, ah_lo long, band0 long, band1 long, "
        "band2 long, band3 long",
    )
    got = {
        ((r.hi_a, r.lo_a), (r.hi_b, r.lo_b)): r.hamming
        for r in perceptual_near_dup_pairs(keys, max_bucket=4).collect()
    }
    a = (rows[0][0], rows[0][1])
    b = (rows[1][0], rows[1][1])
    pair = (min(a, b), max(a, b))
    assert got.get(pair) == 1, (
        f"near-dup pair lost to a hot earlier band: {got}"
    )
    # and each pair is still emitted exactly ONCE (A,B also share
    # band1 AND band3: band1 is the lowest cool shared band, band3 must
    # not re-emit) — the dict build above would mask duplicates, so
    # count rows for the pair explicitly
    n = (
        perceptual_near_dup_pairs(keys, max_bucket=4)
        .filter(
            (F.col("hi_a") == pair[0][0]) & (F.col("lo_a") == pair[0][1])
        )
        .count()
    )
    assert n == 1, f"pair emitted {n} times"


def test_perceptual_hash_keys_match_numpy_reference(spark):
    """Every bit position of both 64-bit perceptual keys pinned against
    an independent numpy restatement over deterministic pseudo-random
    payloads (md5-derived bytes, so the fixture exercises arbitrary
    byte values incl. >=0x80 and int16 sign fixups). Guards the r15
    generated-SQL expression construction — the parsed strings must
    keep spelling the exact per-byte/per-sample integer algebra the
    F.* loop form built (optimized plans diffed identical in r15; this
    pins the VALUES independent of construction form)."""
    import hashlib

    import numpy as np

    from adb_south_caucasus_etl_spark.operators.multimodal import (
        pcm_energy_hash,
        perceptual_frame_hash,
    )

    def det_bytes(seed: int, n: int) -> bytes:
        out = b""
        i = 0
        while len(out) < n:
            out += hashlib.md5(f"{seed}:{i}".encode()).digest()
            i += 1
        return out[:n]

    def ref_key(mags: list[int]) -> tuple[int, int]:
        tot = sum(mags)
        hi = sum(
            1 << (i - 32) for i in range(32, 64) if mags[i] * 64 > tot
        )
        lo = sum(1 << i for i in range(32) if mags[i] * 64 > tot)
        return hi, lo

    # image path: payload bytes ARE the pixels
    rows = [(s, 0, det_bytes(s, 64)) for s in range(50)]
    df = spark.createDataFrame(
        rows, "doc_id long, frame_idx int, frame binary"
    )
    got = {
        r.doc_id: (r.ah_hi, r.ah_lo)
        for r in perceptual_frame_hash(df).collect()
    }
    for s, _, payload in rows:
        assert got[s] == ref_key(list(payload)), f"frame seed {s}"

    # audio path: little-endian int16 parse + magnitude
    arows = [(s, det_bytes(1000 + s, 128)) for s in range(50)]
    adf = spark.createDataFrame(arows, "clip_id long, payload binary")
    agot = {
        r.clip_id: (r.ah_hi, r.ah_lo)
        for r in pcm_energy_hash(adf, id_col="clip_id").collect()
    }
    for s, payload in arows:
        mags = [int(abs(v)) for v in np.frombuffer(payload, "<i2").astype(np.int64)]
        assert agot[s] == ref_key(mags), f"clip seed {s}"


def test_pcm_energy_hash_invariants(spark):
    """The audio perceptual key: (a) phase inversion (negate every
    sample) keeps the key bit-for-bit — magnitudes are unchanged — even
    though the payload bytes differ; (b) moving energy to different
    samples changes the key; (c) the output bands compose with the
    generic banded pair retrieval (a 1-bit energy tweak meets its
    original in a bucket at its true Hamming distance)."""
    import numpy as np

    from adb_south_caucasus_etl_spark.operators.multimodal import (
        pcm_energy_hash,
        perceptual_near_dup_pairs,
    )

    base = np.zeros(64, dtype="<i2")
    base[5] = 20000
    base[40] = -15000
    inv = (-base.astype(np.int32)).astype("<i2")
    other = np.zeros(64, dtype="<i2")
    other[7] = 20000
    other[40] = -15000  # one energy position moved vs base
    rows = [
        (1, base.tobytes()),
        (2, inv.tobytes()),
        (3, other.tobytes()),
        (4, b"\x00" * 10),  # wrong length: filtered, not failed
    ]
    assert rows[0][1] != rows[1][1]  # inversion really differs in bytes
    clips = spark.createDataFrame(rows, "clip_id long, payload binary")
    got = {
        r.clip_id: (r.ah_hi, r.ah_lo)
        for r in pcm_energy_hash(clips, id_col="clip_id").collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == got[2], got  # phase inversion unified
    assert got[1] != got[3], got
    # expected bits: exactly the above-mean samples (5, 40) for base
    assert got[1] == (1 << (40 - 32), 1 << 5), got
    # banded retrieval composability: base vs other differ at 2 bits
    # (positions 5 and 7) and share bands 1-3 -> one candidate pair
    keys = pcm_energy_hash(clips, id_col="clip_id").select(
        "ah_hi", "ah_lo", "band0", "band1", "band2", "band3"
    )
    pairs = {
        ((r.hi_a, r.lo_a), (r.hi_b, r.lo_b)): r.hamming
        for r in perceptual_near_dup_pairs(keys).collect()
    }
    pair = (min(got[1], got[3]), max(got[1], got[3]))
    assert pairs.get(pair) == 2, pairs


def test_band_buckets_derives_bands_from_bare_keys(spark):
    """perceptual_band_buckets over a frame WITHOUT band0..band3 (e.g.
    a doc-key aggregate that dropped them) re-derives the bands from
    the key via band_columns — byte-identical to the precomputed
    columns, so a caller can feed one materialized doc-key table to
    both link paths instead of re-running the frame pipeline."""
    from adb_south_caucasus_etl_spark.operators.multimodal import (
        band_columns,
        perceptual_band_buckets,
    )

    keys = spark.createDataFrame(
        [(0x1234_5678_9ABC_DEF0, 0x0FED_CBA9_8765_4321 & 0x7FFFFFFFFFFFFFFF),
         (17, 65536 + 3)],
        "ah_hi long, ah_lo long",
    )
    with_bands = keys.select(
        "ah_hi",
        "ah_lo",
        *[
            c.alias(f"band{j}")
            for j, c in enumerate(
                band_columns(F.col("ah_hi"), F.col("ah_lo"))
            )
        ],
    )
    a = {
        tuple(r)
        for r in perceptual_band_buckets(keys).collect()
    }
    b = {
        tuple(r)
        for r in perceptual_band_buckets(with_bands).collect()
    }
    assert a == b and len(a) == 8  # 2 keys x 4 bands


def test_shot_segments_planted_cuts(spark):
    """Shot segmentation over a planted frame sequence: a run of
    identical frames is ONE shot (Hamming 0 between neighbors), a
    1-pixel re-encode stays inside the shot (same key), and a reversed-
    ramp frame (Hamming 64) opens a new one; shot 0 carries no cut_ham
    and each later shot records the distance of the cut that opened
    it; per-doc windows never leak across documents."""
    from adb_south_caucasus_etl_spark.operators.multimodal import (
        perceptual_frame_hash,
        shot_segments,
    )

    base = list(range(64))
    noisy = [1] + base[1:]  # same aHash key as base
    other = list(reversed(base))  # Hamming 64 from base
    rows = [
        # doc 1: base, base, noisy  | cut | other, other  -> 2 shots
        (1, 0, bytearray(base)),
        (1, 1, bytearray(base)),
        (1, 2, bytearray(noisy)),
        (1, 3, bytearray(other)),
        (1, 4, bytearray(other)),
        # doc 2: one frame -> 1 shot, no cut
        (2, 0, bytearray(other)),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, frame_idx int, frame binary"
    )
    seg = shot_segments(perceptual_frame_hash(df)).collect()
    bykey = {(r.doc_id, r.shot_id): r for r in seg}
    assert set(bykey) == {(1, 0), (1, 1), (2, 0)}
    assert bykey[(1, 0)].shot_len == 3
    assert bykey[(1, 0)].first_idx == 0
    assert bykey[(1, 0)].cut_ham is None
    assert bykey[(1, 1)].shot_len == 2
    assert bykey[(1, 1)].first_idx == 3
    assert bykey[(1, 1)].cut_ham == 64
    assert bykey[(2, 0)].shot_len == 1
    assert bykey[(2, 0)].cut_ham is None


def test_temporal_alignment_planted_runs(spark):
    """Offset-consistent alignment over planted frame keys: a copied
    3-frame segment at one offset is ONE run of 3 (not three scattered
    links), a same-key match at a different offset stays a run of 1,
    ties on best_run resolve to the SMALLEST offset, and a key above
    the per-key frame cap is skipped entirely."""
    from adb_south_caucasus_etl_spark.operators.multimodal import (
        frame_key_counts,
        temporal_alignment_pairs,
    )

    K = lambda i: (0, 1 << i)  # distinct 64-bit keys
    rows = [
        # doc 1: keys A B C D E at frames 0..4
        *[(1, fi, *K(fi)) for fi in range(5)],
        # doc 2: B C D copied at frames 10..12 (offset -9), A again at
        # frame 20 (offset -20, scattered)
        (2, 10, *K(1)),
        (2, 11, *K(2)),
        (2, 12, *K(3)),
        (2, 20, *K(0)),
        # docs 3/4 share a hot key H in 3 frames total (> cap 2)
        (3, 0, *K(62)),
        (4, 0, *K(62)),
        (4, 1, *K(62)),
    ]
    keys = spark.createDataFrame(
        rows, "doc_id long, frame_idx int, ah_hi long, ah_lo long"
    )
    pairs = {
        (r.doc_a, r.doc_b): r
        for r in temporal_alignment_pairs(
            frame_key_counts(keys), max_key_frames=2
        ).collect()
    }
    assert set(pairs) == {(1, 2)}  # hot-key pair (3,4) skipped
    p = pairs[(1, 2)]
    assert p.best_run == 3
    assert p.best_offset == -9
    assert p.n_matches == 4
    assert p.n_offsets == 2


def test_top_principal_component_matches_numpy(spark):
    """3-step power iteration on an anisotropic synthetic cloud must
    align with numpy's dominant covariance eigenvector (the spectral
    gap here is wide, so 3 steps converge far past the tolerance) and
    the Rayleigh eigenvalue estimate must match numpy's top eigenvalue;
    the returned vector is unit-norm."""
    import numpy as np

    from adb_south_caucasus_etl_spark.operators.clustering import (
        top_principal_component,
    )

    rng = np.random.RandomState(7)
    dim, n = 8, 200
    u = np.ones(dim) / np.sqrt(dim)
    x = np.outer(rng.randn(n) * 5.0, u) + rng.randn(n, dim) * 0.3
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    out = top_principal_component(df, iterations=3).collect()
    got = np.array(
        [r["loading"] for r in sorted(out, key=lambda r: r["dim"])]
    )
    eig_got = out[0]["eigval"]
    xf = x.astype(np.float32).astype(np.float64)  # the stored precision
    cov = np.cov(xf, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    assert abs(float(np.dot(got, top))) > 0.999
    assert abs(float(np.linalg.norm(got)) - 1.0) < 1e-9
    assert abs(eig_got - float(vals[-1])) / float(vals[-1]) < 0.05


def test_second_principal_component_deflation(spark):
    """Deflated power iteration must recover numpy's SECOND covariance
    eigenvector on a planted two-direction cloud, stay unit-norm, and
    be orthogonal to the first component it was deflated against."""
    import numpy as np

    from adb_south_caucasus_etl_spark.operators.clustering import (
        top_principal_component,
    )

    rng = np.random.RandomState(3)
    dim, n = 8, 300
    u1 = np.zeros(dim); u1[0] = 1.0
    u2 = np.zeros(dim); u2[1] = 1.0
    x = (
        np.outer(rng.randn(n) * 5.0, u1)
        + np.outer(rng.randn(n) * 2.0, u2)
        + rng.randn(n, dim) * 0.1
    )
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    pc1 = top_principal_component(df, iterations=3).collect()
    l1 = [r["loading"] for r in sorted(pc1, key=lambda r: r["dim"])]
    pc2 = top_principal_component(
        df, iterations=3, orthogonal_to=l1
    ).collect()
    l2 = np.array(
        [r["loading"] for r in sorted(pc2, key=lambda r: r["dim"])]
    )
    cov = np.cov(
        x.astype(np.float32).astype(np.float64), rowvar=False, bias=True
    )
    vals, vecs = np.linalg.eigh(cov)
    assert abs(float(np.dot(l2, vecs[:, -2]))) > 0.999
    assert abs(float(np.linalg.norm(l2)) - 1.0) < 1e-9
    assert abs(float(np.dot(np.array(l1), l2))) < 1e-9
    eig2 = pc2[0]["eigval"]
    assert abs(eig2 - float(vals[-2])) / float(vals[-2]) < 0.05


def test_corpus_dedup_pipeline_reconciles(spark):
    """The megapipeline's accounting ledger must RECONCILE: per stage
    kept + removed ≡ in, each stage's n_in is the previous stage's
    n_kept (no doc appears or vanishes between boundaries), the split
    partitions the survivors exactly, and every count agrees with the
    stage's scratch-parquet table on disk (the ledger reports what was
    actually materialized, not what the plan intended)."""
    import os

    from adb_south_caucasus_etl_spark.workload import (
        WORKLOAD,
        _scratch_dir,
    )

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        WORKLOAD["corpus_dedup_pipeline"].fn(spark, sf).collect(),
        key=lambda r: r.stage_idx,
    )
    assert [r.stage for r in rows] == [
        "normalize",
        "exact_dedup",
        "span_dedup",
        "neardup_cc",
        "decontaminate",
        "split",
    ]
    for r in rows:
        assert r.n_kept + r.n_removed == r.n_in, r
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_in == prev.n_kept, (prev, cur)
    split = rows[-1]
    assert split.n_train + split.n_val == split.n_kept
    assert rows[0].n_in > 0 and split.n_kept > 0
    # monotone: a dedup pipeline never grows the corpus
    assert all(a.n_kept >= b.n_kept for a, b in zip(rows, rows[1:]))

    base = _scratch_dir("corpus_dedup", sf)
    on_disk = {
        "normalize": "norm",
        "exact_dedup": "exact",
        "span_dedup": "spanned",
        "neardup_cc": "canon",
        "decontaminate": "decont",
    }
    for r in rows[:-1]:
        path = os.path.join(base, on_disk[r.stage])
        assert spark.read.parquet(path).count() == r.n_kept, r.stage


def test_top_k_principal_components_match_numpy(spark):
    """Blocked orthogonal iteration (k=4) on a planted 4-direction
    anisotropic cloud must align with numpy's top-4 covariance
    eigenvectors (>0.999 per component — VERDICT r11 item 6's done
    bar), return a pairwise-orthonormal basis, and estimate each
    eigenvalue within 5% via the final MGS residual norms."""
    import numpy as np

    from adb_south_caucasus_etl_spark.operators.clustering import (
        top_k_principal_components,
    )

    rng = np.random.RandomState(5)
    dim, n, k = 16, 400, 4
    basis = np.linalg.qr(rng.randn(dim, k))[0].T  # 4 orthonormal dirs
    strengths = [8.0, 4.0, 2.0, 1.0]
    x = sum(
        np.outer(rng.randn(n) * s, b) for s, b in zip(strengths, basis)
    ) + rng.randn(n, dim) * 0.02
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    out = top_k_principal_components(df, k=k, iterations=6).collect()
    got = np.zeros((k, dim))
    eig = {}
    for r in out:
        got[r["component"] - 1, r["dim"]] = r["loading"]
        eig[r["component"]] = r["eigval"]
    cov = np.cov(
        x.astype(np.float32).astype(np.float64), rowvar=False, bias=True
    )
    vals, vecs = np.linalg.eigh(cov)
    for j in range(k):
        truth = vecs[:, -1 - j]
        assert abs(float(np.dot(got[j], truth))) > 0.999, (
            f"component {j + 1} misaligned"
        )
        assert (
            abs(eig[j + 1] - float(vals[-1 - j])) / float(vals[-1 - j])
            < 0.05
        ), f"eigval {j + 1} off"
    gram = got @ got.T
    assert np.allclose(gram, np.eye(k), atol=1e-9), (
        "loadings must be orthonormal"
    )


def test_dbscan_embed_planted_structure(spark):
    """DBSCAN must recover planted variable-density structure built
    from EXACT orthonormal geometry (no RNG): two tight clumps (every
    member core, one cluster each, no cross-clump edges), one border
    point whose only epsilon-neighbor is a single clump-A member
    (attached to clump A's min-id cluster), and an isolated pair (each
    end one neighbor — noise under min_neighbors=2, the stragglers a
    centroid method would force into a cell)."""
    import math

    import numpy as np

    from pyspark.sql import functions as F  # noqa: F401 (local clarity)
    from adb_south_caucasus_etl_spark.operators.dedup import (
        connected_components,
    )
    from adb_south_caucasus_etl_spark.operators.similarity import (
        cosine_pairs_blocked,
    )

    dim = 16
    E = np.eye(dim)
    c30, s30 = math.cos(math.pi / 6), math.sin(math.pi / 6)
    # clump A around axis e0: pairwise cos = 0.75/0.866 — all edges
    A = [E[0]] + [c30 * E[0] + s30 * E[1 + i] for i in range(3)]
    # clump B around axis e4 (disjoint basis): same shape
    B = [E[4]] + [c30 * E[4] + s30 * E[5 + i] for i in range(3)]
    # border: cos 0.48 to A[1] only; 0.48*0.866=0.4157 to A[0] and
    # 0.48*0.75=0.36 to A[2]/A[3] — both below the 0.42 threshold
    h = 0.48 * A[1] + math.sqrt(1 - 0.48**2) * E[8]
    # isolated pair on axis e9: one 0.866 edge, degree 1 each
    I0, I1 = E[9], c30 * E[9] + s30 * E[10]
    rows = (
        [(i, [float(x) for x in v]) for i, v in enumerate(A)]
        + [(10 + i, [float(x) for x in v]) for i, v in enumerate(B)]
        + [(20, [float(x) for x in h]), (30, [float(x) for x in I0]),
           (31, [float(x) for x in I1])]
    )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    pairs = cosine_pairs_blocked(df, threshold=0.42).select(
        "id_a", "id_b"
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (30, 31) in got
    assert all((i, j) in got for i in range(4) for j in range(i + 1, 4))
    assert not any(x < 10 <= y < 20 for x, y in got)
    assert (1, 20) in got and (0, 20) not in got

    edges = pairs.unionByName(
        pairs.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    ).select(F.col("id_a").alias("node"), F.col("id_b").alias("nbr"))
    deg = edges.groupBy("node").agg(F.count(F.lit(1)).alias("n"))
    core = deg.filter(F.col("n") >= 2).select("node")
    ce = pairs.join(
        core.select(F.col("node").alias("id_a")), "id_a", "left_semi"
    ).join(core.select(F.col("node").alias("id_b")), "id_b", "left_semi")
    cc = connected_components(ce.select("id_a", "id_b"))
    labels = {r.node: r.label for r in cc.collect()}
    cores = {r.node for r in core.collect()}
    assert {labels[i] for i in range(4)} == {0}
    assert {labels[10 + i] for i in range(4)} == {10}
    assert cores == set(range(4)) | {10 + i for i in range(4)}, (
        "border and isolated-pair points must not be core"
    )


def test_containment_catches_quote_inclusion(spark):
    """A short document quoted wholesale inside a long one must be a
    containment catch (short ⊆ long ≈ 1.0) while the symmetric Jaccard
    stays diluted below any near-dup threshold — the asymmetric signal
    the operator exists for. The reverse direction (long ⊆ short) must
    NOT clear the threshold."""
    from adb_south_caucasus_etl_spark.operators.dedup import (
        containment_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"tok{i} w{i} z{i}" for i in range(60))
    long = filler + " " + short + " " + " ".join(
        f"tail{i} y{i}" for i in range(40)
    )
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "unrelated words entirely here")],
        "doc_id long, text string",
    )
    rows = {
        (r.src_id, r.dst_id): r
        for r in containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.6
        ).collect()
    }
    assert set(rows) == {(1, 2)}, rows
    r = rows[(1, 2)]
    assert r.containment >= 0.99
    assert r.jaccard < 0.1, "Jaccard must stay diluted by the long side"


def test_rake_keywords_hand_computed(spark):
    """RAKE on a hand-computable document: 'deep learning models the
    deep learning stack a stack' with stopwords {a, the} splits into
    phrases [deep learning models], [deep learning stack], [stack].
    freq/degree: deep 2/6, learning 2/6, models 1/3, stack 2/4 → word
    scores 3, 3, 3, 2; phrase scores: 9, 8, 2."""
    from adb_south_caucasus_etl_spark.workload import WORKLOAD  # noqa: F401

    from pyspark.sql import Window  # noqa: F401

    df = spark.createDataFrame(
        [(0, "deep learning models the deep learning stack a stack")],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("__rake_probe")
    # drive the registered query body over the probe frame by calling
    # the same operator pipeline inline (the registered query is pinned
    # to the fixture; this pins the algorithm on verifiable numbers)
    import adb_south_caucasus_etl_spark.workload as wl

    out = {}
    # reuse the query implementation with a monkeypatched catalog frame
    class _Cat:
        documents = df

    orig = wl.Catalog
    try:
        wl.Catalog = lambda *a, **k: _Cat()  # type: ignore[assignment]
        rows = wl.text_rake_keywords(spark, "unused").collect()
    finally:
        wl.Catalog = orig
    out = {(r.phrase): (r.score, r.rank) for r in rows}
    assert out == {
        "deep learning models": (9.0, 1),
        "deep learning stack": (8.0, 2),
        "stack": (2.0, 3),
    }, out


# ---------------------------------------------------------------------------
# IVF-PQ (round 13, VERDICT r12 item 2)
# ---------------------------------------------------------------------------


def test_ivf_pq_recall_vs_exact(spark, sf_dir):
    """The full FAISS pipeline (trained cells + PQ residual codes + ADC
    + exact re-rank) must clear the SAME 0.9 floor as the trained IVF —
    PQ compresses postings 16x and the re-rank must buy the precision
    back. Measured 0.94 at sf0.001, the gate's worst SF."""
    from adb_south_caucasus_etl_spark.operators.similarity import (
        ivf_pq_topk,
    )

    emb = Catalog(spark, sf_dir).embeddings
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_exact(emb, q, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_pq_topk(
            emb, q, k=10, n_cells=16, nprobe=8, spill=2
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF-PQ recall {recall} below gate"


def test_pq_codebook_training_deterministic_and_degenerate():
    """Driver-side PQ Lloyd is a pure function of the (md5-ordered)
    sample: identical books across runs; a sample with fewer distinct
    sub-vectors than ksub pads by repetition instead of crashing; a
    non-divisible dim raises the documented error."""
    import numpy as np

    from adb_south_caucasus_etl_spark.operators.similarity import (
        _pq_train_codebooks,
    )

    rng = np.random.RandomState(7)
    S = rng.randn(64, 16)
    b1 = _pq_train_codebooks(S, m=4, ksub=8)
    b2 = _pq_train_codebooks(S, m=4, ksub=8)
    assert (b1 == b2).all(), "codebook training must be deterministic"
    assert b1.shape == (4, 8, 4)

    tiny = np.tile(rng.randn(3, 8), (5, 1))  # only 3 distinct rows
    bt = _pq_train_codebooks(tiny, m=2, ksub=8)
    assert bt.shape == (2, 8, 4)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not divisible"):
        _pq_train_codebooks(S, m=5, ksub=8)


def test_ivf_pq_exact_when_codebooks_lossless(spark):
    """ADC-math pin: with fewer distinct vectors than ksub, Lloyd init
    covers every residual sub-vector exactly and each keeps its own
    codeword, so PQ reconstruction is LOSSLESS and the ADC ordering is
    the true inner-product ordering — the pipeline must then reproduce
    the exact top-k even before re-rank can correct anything. Also pins
    the zero-norm-corpus and NULL-query contracts."""
    import numpy as np

    from adb_south_caucasus_etl_spark.operators.similarity import (
        ivf_pq_topk,
    )

    rng = np.random.RandomState(3)
    rows = [
        (i, [float(x) for x in rng.randn(16)]) for i in range(12)
    ]
    rows.append((100, [0.0] * 16))  # zero-norm: dropped from the index
    rows.append((101, None))  # NULL query vector: dropped, never crashes
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    live = df.filter(F.col("vec_id") < 100)
    q = df.filter((F.col("vec_id") < 3) | (F.col("vec_id") == 101))
    # baseline over NON-NULL queries only: the exact ranker emits rows
    # for a NULL query (NULL cosine, rank by tie-break) while the PQ
    # index drops it — the documented divergence under test below
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_exact(
            live, q.filter(F.col("vec_id") < 3), k=4
        ).collect()
    }
    approx_rows = ivf_pq_topk(
        df,
        q,
        k=4,
        n_cells=4,
        nprobe=4,  # probe everything: isolates the PQ/ADC stage
        spill=1,
        m_subvectors=4,
        ksub=16,
        pq_train_rows=64,
    ).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    assert all(r.neighbor_id != 100 for r in approx_rows), (
        "zero-norm vector must be dropped from the PQ index"
    )
    assert all(r.query_id != 101 for r in approx_rows), (
        "NULL query vector must be dropped before cell assignment"
    )
    assert approx == exact, (
        f"lossless codebooks must reproduce exact top-k: "
        f"missing {sorted(exact - approx)}, extra {sorted(approx - exact)}"
    )


def test_ivf_pq_memory_audit_first_principles(spark, sf_dir):
    """The memory audit's numbers must agree with first principles:
    16 code bytes per replica (min==max), spill x (16+8) = 48 index
    bytes per vector, 264 float32 bytes, 5.5x compression."""
    from adb_south_caucasus_etl_spark.workload import WORKLOAD

    row = WORKLOAD["ann_ivf_pq_memory_audit"].fn(spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r.code_bytes_per_replica == 16
    assert r.index_bytes_per_vector == 48
    assert r.float32_bytes_per_vector == 264
    assert r.n_replicas == 2 * r.n_vectors
    assert abs(r.compression_ratio - round(264 / 48, 4)) < 1e-9


@pytest.mark.parametrize(
    "qname,tag,stages",
    [
        (
            "corpus_dedup_pipeline_lsh",
            "corpus_dedup_lsh",
            [
                "normalize",
                "exact_dedup",
                "span_dedup",
                "neardup_cc",
                "decontaminate",
                "split",
            ],
        ),
        (
            "corpus_dedup_pipeline_semantic",
            "corpus_dedup_sem",
            [
                "normalize",
                "exact_dedup",
                "span_dedup",
                "neardup_cc",
                "semantic_cc",
                "decontaminate",
                "split",
            ],
        ),
        (
            "corpus_dedup_pipeline_semantic_trained",
            "corpus_dedup_sem_tr",
            [
                "normalize",
                "exact_dedup",
                "span_dedup",
                "neardup_cc",
                "semantic_cc",
                "decontaminate",
                "split",
            ],
        ),
    ],
)
def test_corpus_dedup_variants_reconcile(spark, qname, tag, stages):
    """The LSH and semantic megapipeline variants must satisfy the SAME
    ledger invariants as the exact pipeline (kept + removed ≡ in, chain
    continuity, exact split partition, monotone corpus, on-disk counts)
    — the swap changes WHICH docs are removed, never the accounting."""
    import os

    from adb_south_caucasus_etl_spark.workload import (
        WORKLOAD,
        _scratch_dir,
    )

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        WORKLOAD[qname].fn(spark, sf).collect(),
        key=lambda r: r.stage_idx,
    )
    assert [r.stage for r in rows] == stages
    for r in rows:
        assert r.n_kept + r.n_removed == r.n_in, r
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_in == prev.n_kept, (prev, cur)
    split = rows[-1]
    assert split.n_train + split.n_val == split.n_kept
    assert rows[0].n_in > 0 and split.n_kept > 0
    assert all(a.n_kept >= b.n_kept for a, b in zip(rows, rows[1:]))

    base = _scratch_dir(tag, sf)
    on_disk = {
        "normalize": "norm",
        "exact_dedup": "exact",
        "span_dedup": "spanned",
        "neardup_cc": "canon",
        "semantic_cc": "semcanon",
        "decontaminate": "decont",
    }
    for r in rows[:-1]:
        path = os.path.join(base, on_disk[r.stage])
        assert spark.read.parquet(path).count() == r.n_kept, r.stage


def test_lsh_pair_stage_recall_floor(spark):
    """The agreement twin's floor, pinned locally: the LSH pair stage
    recovers >= 0.9 of the exact J >= 0.7 pairs (measured 1.0 — post-
    span-dedup near-dups sit deep in the banded S-curve's safe zone),
    and the semantic stage actually removes documents at this SF (the
    stage is live, not vacuously green)."""
    from adb_south_caucasus_etl_spark.workload import WORKLOAD

    sf = "/root/testdata/sf0.001"
    row = WORKLOAD["corpus_dedup_pipeline_lsh_agreement"].fn(
        spark, sf
    ).collect()
    assert len(row) == 1 and bool(row[0].recall_ok)

    sem = {
        r.stage: r
        for r in WORKLOAD["corpus_dedup_pipeline_semantic"].fn(
            spark, sf
        ).collect()
    }
    assert sem["semantic_cc"].n_removed >= 1, (
        "semantic stage removed nothing at sf0.001 — threshold drifted?"
    )


def test_ivf_pq_full_probe_full_rerank_is_exact(spark):
    """End-to-end invariant independent of PQ quality: probing EVERY
    cell and re-ranking a shortlist at least as large as the corpus
    must reproduce the exact top-k for every query — the candidate and
    shortlist stages may only LOSE recall via pruning, never corrupt
    scores (re-rank cosines are computed from full vectors). Also pins
    the output contract: ranks contiguous from 1, cosine non-increasing
    per query."""
    import numpy as np

    from adb_south_caucasus_etl_spark.operators.similarity import (
        ivf_pq_topk,
    )

    rng = np.random.RandomState(29)
    rows = [(i, [float(x) for x in rng.randn(24)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 6)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_exact(df, q, k=5).collect()
    }
    out = ivf_pq_topk(
        df,
        q,
        k=5,
        n_cells=4,
        nprobe=4,  # probe everything
        spill=1,
        m_subvectors=6,
        ksub=8,
        rerank=100,  # > corpus: shortlist prunes nothing
        pq_train_rows=64,
    ).collect()
    assert {(r.query_id, r.neighbor_id) for r in out} == exact
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1)), qid
        cos = [r.cosine for r in rs]
        assert all(a >= b for a, b in zip(cos, cos[1:])), (qid, cos)


def test_ivf_pq_persisted_serve_identical_to_in_memory(spark, sf_dir):
    """The persisted-index serve path must return EXACTLY what the
    build-and-serve path returns — the artifact round-trip (postings
    parquet + quantizer tables → driver) loses nothing: centroids and
    codebooks are float64 in and out of parquet, codes are tinyint, and
    the serve tail is the same code. This is the strongest check a
    rows-only ANN query can carry."""
    from adb_south_caucasus_etl_spark.operators.similarity import (
        ivf_pq_topk,
    )
    from adb_south_caucasus_etl_spark.workload import WORKLOAD

    emb = Catalog(spark, sf_dir).embeddings
    q = emb.filter(F.col("vec_id") < 5).limit(5)
    mem = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in ivf_pq_topk(
            emb, q, k=10, n_cells=16, nprobe=8, spill=2
        ).collect()
    }
    served = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in WORKLOAD["ann_ivf_pq_persisted_serve"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert served == mem


def test_ivf_pq_append_serve_identical_to_union_encode(spark, sf_dir):
    """The FAISS add() contract, pinned: appending the odd-id half to an
    index built on the even-id half, then serving, must return EXACTLY
    what serving an index whose postings were encoded from the FULL
    corpus against the SAME (even-half-trained) quantizers returns —
    encoding is a pure function of (vector, quantizers), and the append
    path (parquet mode=append into the partitionBy(__cell) layout) must
    neither drop, duplicate, nor re-encode anything."""
    import os
    import shutil

    from adb_south_caucasus_etl_spark.operators.similarity import (
        _pq_encode_postings,
        _pq_probe_topk,
        _unit_vectors,
        ivf_pq_append,
        ivf_pq_index,
        ivf_pq_load,
        ivf_pq_persist,
    )

    emb = Catalog(spark, sf_dir).embeddings
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    base = "/tmp/adb_sc_test_pq_append"
    shutil.rmtree(base, ignore_errors=True)

    index, cents, books = ivf_pq_index(
        even, n_cells=16, spill=2, m_subvectors=16, ksub=64
    )
    ivf_pq_persist(base, index, cents, books)
    ivf_pq_append(spark, base, odd)
    postings, c2, b2 = ivf_pq_load(spark, base)

    q = emb.filter(F.col("vec_id") < 5).limit(5)
    served = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in _pq_probe_topk(
            postings, c2, b2, emb, q, k=10, nprobe=8, rerank=200
        ).collect()
    }

    union_idx = _pq_encode_postings(
        _unit_vectors(emb, "vec_id", "embedding"), cents, books, 2
    )
    ref = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in _pq_probe_topk(
            union_idx, cents, books, emb, q, k=10, nprobe=8, rerank=200
        ).collect()
    }
    assert served == ref and len(served) == 50
    shutil.rmtree(base, ignore_errors=True)


def test_ivf_pq_adc_salting_bounds_hot_cells_and_preserves_output(
    spark, sf_dir
):
    """The hot-cell guard (VERDICT r13 item 3) on a SKEWED fixture: 80%
    of the corpus is planted on one direction, so a handful of cells
    hold almost all postings. With max_adc_group set, (a) the serve
    output is byte-identical to the unsalted plan (ADC is per-row
    deterministic; max-ADC dedup merges across salt groups), and (b)
    the per-(cell, salt) candidate population — what one cogrouped
    pandas frame holds — is bounded near the target (hash salting is
    statistical, so the pin allows 2x slack) while the UNsalted hot
    cell exceeds the bound by construction."""
    from adb_south_caucasus_etl_spark.operators.similarity import (
        _pq_probe_topk,
        ivf_pq_index,
    )

    emb = Catalog(spark, sf_dir).embeddings
    t = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    anchor = t.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("cv")
    )
    # 80% of rows collapse onto vec 0's direction → a few hot cells
    skewed = (
        t.crossJoin(F.broadcast(anchor))
        .select(
            "vec_id",
            F.when(
                F.col("vec_id") % 5 != 0,
                F.zip_with(
                    "cv", "v", lambda c, x: c + F.lit(0.05) * x
                ),
            )
            .otherwise(F.col("v"))
            .alias("embedding"),
        )
        .localCheckpoint(eager=True)
    )

    index, cents, books = ivf_pq_index(
        skewed, n_cells=16, spill=2, m_subvectors=16, ksub=64
    )
    index = index.localCheckpoint(eager=True)
    q = skewed.filter(F.col("vec_id") < 5).limit(5)

    bound = 64
    cell_counts = {
        r["__cell"]: r["n"]
        for r in index.groupBy("__cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert max(cell_counts.values()) > 4 * bound, cell_counts

    unsalted = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in _pq_probe_topk(
            index, cents, books, skewed, q, k=10, nprobe=8, rerank=200
        ).collect()
    }
    salted = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in _pq_probe_topk(
            index,
            cents,
            books,
            skewed,
            q,
            k=10,
            nprobe=8,
            rerank=200,
            max_adc_group=bound,
        ).collect()
    }
    assert salted == unsalted and len(salted) == 50

    # replicate the salting expressions to measure what one ADC group
    # would hold: postings of one (cell, salt) bucket
    from pyspark.sql import Window as _W

    salted_sizes = (
        index.withColumn(
            "__nsalts",
            F.ceil(
                F.count(F.lit(1)).over(_W.partitionBy("__cell"))
                / F.lit(bound)
            ).cast("int"),
        )
        .withColumn(
            "__salt",
            F.pmod(F.xxhash64("neighbor_id"), F.col("__nsalts")).cast(
                "int"
            ),
        )
        .groupBy("__cell", "__salt")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    assert salted_sizes <= 2 * bound, salted_sizes


def test_trained_semantic_agreement_floor_and_liveness(spark):
    """The trained-cell agreement twin's floor, pinned locally: spill-4
    trained cells recover >= 0.9 of the derandomized variant's semantic
    pair set (measured 1.0 — spill-1 recovers only ~0.3, which is why
    spill is the load-bearing choice), the derandomized pair set is
    non-empty at this SF (the comparison is live, not vacuous), and the
    trained pipeline's semantic stage removes documents."""
    from adb_south_caucasus_etl_spark.workload import WORKLOAD

    sf = "/root/testdata/sf0.001"
    row = WORKLOAD[
        "corpus_dedup_pipeline_semantic_trained_agreement"
    ].fn(spark, sf).collect()[0]
    assert row.recall_ok and row.n_der_pairs > 0, row

    rows = WORKLOAD["corpus_dedup_pipeline_semantic_trained"].fn(
        spark, sf
    ).collect()
    sem = [r for r in rows if r.stage == "semantic_cc"][0]
    assert sem.n_removed > 0, sem


def test_ivf_pq_cellsizes_table_current_and_equivalent(spark, sf_dir):
    """The artifact's cellsizes table (what a salted serve sizes its ADC
    buckets from WITHOUT re-scanning the postings): (a) equals the
    groupBy-count truth of the postings right after build AND right
    after an append (ivf_pq_append maintains it incrementally), and (b)
    serving with the persisted table is byte-identical to serving with
    the in-flight aggregate — same buckets, same groups, same output."""
    import os
    import shutil

    from adb_south_caucasus_etl_spark.operators.similarity import (
        _pq_probe_topk,
        ivf_pq_append,
        ivf_pq_cell_sizes,
        ivf_pq_index,
        ivf_pq_load,
        ivf_pq_persist,
    )

    emb = Catalog(spark, sf_dir).embeddings
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    base = "/tmp/adb_sc_test_pq_sizes"
    shutil.rmtree(base, ignore_errors=True)

    index, cents, books = ivf_pq_index(
        even, n_cells=16, spill=2, m_subvectors=16, ksub=64
    )
    ivf_pq_persist(base, index, cents, books)

    def truth():
        return {
            (r["__cell"], r["n"])
            for r in spark.read.parquet(os.path.join(base, "postings"))
            .groupBy("__cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def stored():
        return {
            (r["__cell"], r["n_postings"])
            for r in ivf_pq_cell_sizes(spark, base).collect()
        }

    assert stored() == truth()
    ivf_pq_append(spark, base, odd)
    assert stored() == truth()

    postings, c2, b2 = ivf_pq_load(spark, base)
    q = emb.filter(F.col("vec_id") < 5).limit(5)
    via_table = {
        tuple(r)
        for r in _pq_probe_topk(
            postings, c2, b2, emb, q, k=10, nprobe=8, rerank=200,
            max_adc_group=64, cell_sizes=ivf_pq_cell_sizes(spark, base),
        ).collect()
    }
    via_count = {
        tuple(r)
        for r in _pq_probe_topk(
            postings, c2, b2, emb, q, k=10, nprobe=8, rerank=200,
            max_adc_group=64,
        ).collect()
    }
    assert via_table == via_count and len(via_table) == 50
    shutil.rmtree(base, ignore_errors=True)


def test_ivf_pq_persist_deferred_cellsizes_restored_by_append(
    spark, sf_dir
):
    """``ivf_pq_persist(write_cellsizes=False)`` (r16): a caller that
    immediately appends skips the persist-time cellsizes job — the
    table must be ABSENT right after the persist and equal to the
    groupBy-count truth of the full post-append postings right after
    ``ivf_pq_append``'s self-healing recount."""
    import os
    import shutil

    from adb_south_caucasus_etl_spark.operators.similarity import (
        ivf_pq_append,
        ivf_pq_cell_sizes,
        ivf_pq_index,
        ivf_pq_persist,
    )

    emb = Catalog(spark, sf_dir).embeddings
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    base = "/tmp/adb_sc_test_pq_sizes_deferred"
    shutil.rmtree(base, ignore_errors=True)

    index, cents, books = ivf_pq_index(
        even, n_cells=16, spill=2, m_subvectors=16, ksub=64
    )
    ivf_pq_persist(base, index, cents, books, write_cellsizes=False)
    assert not os.path.exists(os.path.join(base, "cellsizes"))
    ivf_pq_append(spark, base, odd)
    truth = {
        (r["__cell"], r["n"])
        for r in spark.read.parquet(os.path.join(base, "postings"))
        .groupBy("__cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    stored = {
        (r["__cell"], r["n_postings"])
        for r in ivf_pq_cell_sizes(spark, base).collect()
    }
    assert stored == truth
    shutil.rmtree(base, ignore_errors=True)


def test_ivf_pq_append_passed_quantizers_byte_equal_load_path(
    spark, sf_dir
):
    """``ivf_pq_append(quantizers=...)`` (r16): a caller that just
    persisted the index may pass the in-memory quantizers and skip the
    reload collects. Parquet DOUBLE is IEEE binary64 stored verbatim,
    so the passed path must land the EXACT posting set (ids, cells and
    code bytes) and cellsizes the load path lands."""
    import os
    import shutil

    from adb_south_caucasus_etl_spark.operators.similarity import (
        ivf_pq_append,
        ivf_pq_cell_sizes,
        ivf_pq_index,
        ivf_pq_persist,
    )

    emb = Catalog(spark, sf_dir).embeddings
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    index, cents, books = ivf_pq_index(
        even, n_cells=16, spill=2, m_subvectors=16, ksub=64
    )

    def postings_set(base):
        return {
            (r["neighbor_id"], r["__cell"], tuple(r["codes"]))
            for r in spark.read.parquet(
                os.path.join(base, "postings")
            ).collect()
        }

    def sizes_set(base):
        return {
            (r["__cell"], r["n_postings"])
            for r in ivf_pq_cell_sizes(spark, base).collect()
        }

    base_load = "/tmp/adb_sc_test_pq_append_loadq"
    base_pass = "/tmp/adb_sc_test_pq_append_passq"
    for b in (base_load, base_pass):
        shutil.rmtree(b, ignore_errors=True)
        ivf_pq_persist(b, index, cents, books, write_cellsizes=False)
    ivf_pq_append(spark, base_load, odd)  # reload path (default)
    ivf_pq_append(spark, base_pass, odd, quantizers=(cents, books))
    assert postings_set(base_pass) == postings_set(base_load)
    assert sizes_set(base_pass) == sizes_set(base_load)
    for b in (base_load, base_pass):
        shutil.rmtree(b, ignore_errors=True)


def test_streaming_ingest_postings_equal_batch_append(spark, sf_dir):
    """Micro-batch invariance of the streaming index ingest, pinned at
    the POSTING grain: after the streamed drain
    (streaming_ivf_pq_ingest_ledger — foreachBatch ivf_pq_append over
    the odd-id stream), the artifact's postings and cellsizes must be
    byte-equal to a BATCH append of the same rows onto an identically-
    built index — encoding is a pure per-row function of (vector,
    frozen quantizers), so batching must not matter."""
    import os
    import shutil

    from adb_south_caucasus_etl_spark.operators.similarity import (
        ivf_pq_append,
        ivf_pq_index,
        ivf_pq_persist,
    )
    from adb_south_caucasus_etl_spark.workload import (
        WORKLOAD,
        _scratch_dir,
    )

    sf = "/root/testdata/sf0.001"
    row = WORKLOAD["streaming_ivf_pq_ingest_ledger"].fn(
        spark, sf
    ).collect()[0]
    assert row.n_before + row.n_added == row.n_after
    assert row.sizes_consistent
    streamed = os.path.join(_scratch_dir("stream_ivf_pq_ingest", sf), "v1")

    emb = Catalog(spark, sf).embeddings
    base = "/tmp/adb_sc_test_pq_stream_ref"
    shutil.rmtree(base, ignore_errors=True)
    index, cents, books = ivf_pq_index(
        emb.filter(F.col("vec_id") % 2 == 0),
        n_cells=16, spill=2, m_subvectors=16, ksub=64,
    )
    ivf_pq_persist(base, index, cents, books)
    ivf_pq_append(spark, base, emb.filter(F.col("vec_id") % 2 == 1))

    def postings(path):
        return {
            (r["neighbor_id"], r["__cell"], tuple(r["codes"]))
            for r in spark.read.parquet(
                os.path.join(path, "postings")
            ).collect()
        }

    def sizes(path):
        return {
            (r["__cell"], r["n_postings"])
            for r in spark.read.parquet(
                os.path.join(path, "cellsizes")
            ).collect()
        }

    assert postings(streamed) == postings(base)
    assert sizes(streamed) == sizes(base)
    shutil.rmtree(base, ignore_errors=True)


def test_ivf_pq_delete_tombstone_serve_equals_reclaimed_serve(
    spark, sf_dir
):
    """The delete path's two contracts, pinned: (a) no tombstoned id
    ever appears as a neighbor the moment the tombstone lands (logical
    delete is immediate), and (b) serving THROUGH tombstones is
    byte-identical to serving the physically RECLAIMED index
    (ivf_pq_compact applies tombstones in its rewrite) — logical and
    physical deletion agree exactly, so reclaim can run whenever
    maintenance wants without changing a single served result. Also
    pins the reclaim bookkeeping: refreshed cellsizes equal the
    compacted truth and the tombstones table is consumed."""
    import os
    import shutil

    from adb_south_caucasus_etl_spark.operators.similarity import (
        _pq_probe_topk,
        ivf_pq_append,
        ivf_pq_cell_sizes,
        ivf_pq_compact,
        ivf_pq_delete,
        ivf_pq_index,
        ivf_pq_load,
        ivf_pq_persist,
        ivf_pq_tombstones,
    )

    emb = Catalog(spark, sf_dir).embeddings
    base = "/tmp/adb_sc_test_pq_delete"
    shutil.rmtree(base, ignore_errors=True)
    index, cents, books = ivf_pq_index(
        emb.filter(F.col("vec_id") % 2 == 0),
        n_cells=16, spill=2, m_subvectors=16, ksub=64,
    )
    ivf_pq_persist(base, index, cents, books)
    ivf_pq_append(spark, base, emb.filter(F.col("vec_id") % 2 == 1))
    deleted = emb.filter(F.col("vec_id") % 10 == 3)
    ivf_pq_delete(spark, base, deleted)

    q = emb.filter(F.col("vec_id") < 5).limit(5)
    postings, c2, b2 = ivf_pq_load(spark, base)
    with_ts = _pq_probe_topk(
        postings, c2, b2, emb, q, k=10, nprobe=8, rerank=200,
        tombstones=ivf_pq_tombstones(spark, base),
    ).collect()
    assert len(with_ts) == 50
    deleted_ids = {
        r["vec_id"]
        # bounded: 10% id cut of the embeddings fixture (test-only)
        for r in deleted.select("vec_id").collect()
    }
    assert not {r.neighbor_id for r in with_ts} & deleted_ids

    ivf_pq_compact(spark, base, reclaim=True)
    assert not os.path.isdir(os.path.join(base, "tombstones"))
    postings2, c3, b3 = ivf_pq_load(spark, base)
    reclaimed = _pq_probe_topk(
        postings2, c3, b3, emb, q, k=10, nprobe=8, rerank=200,
    ).collect()
    key = lambda rows: {  # noqa: E731
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in rows
    }
    assert key(with_ts) == key(reclaimed)

    sizes = {
        (r["__cell"], r["n_postings"])
        for r in ivf_pq_cell_sizes(spark, base).collect()
    }
    truth = {
        (r["__cell"], r["n"])
        for r in spark.read.parquet(os.path.join(base, "postings"))
        .groupBy("__cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sizes == truth
    # reclaimed postings contain no deleted id at all (physical removal)
    n_del = (
        spark.read.parquet(os.path.join(base, "postings"))
        .filter(F.col("neighbor_id").isin(list(deleted_ids)))
        .count()
    )
    assert n_del == 0
    shutil.rmtree(base, ignore_errors=True)
