"""KGE kernel math + Spark scoring operators (SURVEY §2.6)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from knovexlite_spark.functions import kge
from knovexlite_spark.functions.kge import (
    ComplEx,
    DistMult,
    EmbeddingStore,
    RESCAL,
    RotatE,
    SWTransE,
    TransE,
    inverse_relation_ids,
    rank_of_tails,
    score_all_tails_grouped_max,
    score_triples,
)
from knovexlite_spark.functions.tnorm import TNorm

RNG = np.random.default_rng(7)
KERNEL_SCHEMA = "query_id long, h long, r long, neg boolean, acc double"


def grouped_max_reference(model, store, rows):
    """NumPy form of score_all_tails_grouped_max merged across
    partitions: per query_id, the max over its (h, r, neg, acc) rows of
    +-score_all + acc.  Returns {(query_id, t): score}."""
    best: dict[int, np.ndarray] = {}
    for q, h, r, neg, acc in rows:
        s = model.score_all(store.ent[[h]], store.rel[[r]], store.ent)[0]
        s = (-s if neg else s).astype(np.float64) + acc
        best[q] = s if q not in best else np.maximum(best[q], s)
    return {(q, t): float(v) for q, s in best.items() for t, v in enumerate(s)}


def merged_grouped_max(df, model, store):
    out = (
        score_all_tails_grouped_max(df, model, store, group_cols=("query_id",))
        .groupBy("query_id", "t").agg(F.max("score").alias("score"))
        .toPandas()
    )
    return {(int(q), int(t)): v for q, t, v in zip(out["query_id"], out["t"], out["score"])}


def assert_scores_match(got, want, atol=1e-9):
    assert got.keys() == want.keys()
    keys = sorted(want)
    np.testing.assert_allclose(
        [got[k] for k in keys], [want[k] for k in keys], rtol=0, atol=atol
    )


def rank_reference(model, store, h, r, t):
    scores = model.score_all(store.ent[[h]], store.rel[[r]], store.ent)[0]
    return int(np.sum(scores > scores[t]))


def test_transe_kernel():
    h, r, t = RNG.normal(size=(3, 8)).astype(np.float32)
    m = TransE(p=2)
    assert np.isclose(m.score(h, r, t), -np.linalg.norm(h + r - t))
    assert np.allclose(m.estimate_tail(h, r), h + r)


def test_complex_kernel_matches_complex_arithmetic():
    d = 4
    h, r, t = RNG.normal(size=(3, 2 * d)).astype(np.float32)
    hc = h[:d] + 1j * h[d:]
    rc = r[:d] + 1j * r[d:]
    tc = t[:d] + 1j * t[d:]
    est = ComplEx().estimate_tail(h, r)
    assert np.allclose(est[:d] + 1j * est[d:], hc * rc, atol=1e-5)
    # score = Re(<h∘r, t>) under the [re|im] dot convention
    assert np.isclose(
        ComplEx().score(h, r, t), np.sum((hc * rc).real * tc.real + (hc * rc).imag * tc.imag),
        atol=1e-5,
    )


def test_rotate_rotation_preserves_norm():
    d = 4
    h = RNG.normal(size=2 * d).astype(np.float32)
    phase = RNG.uniform(-np.pi, np.pi, size=d).astype(np.float32)
    est = RotatE().estimate_tail(h, phase)
    hm = np.hypot(h[:d], h[d:])
    em = np.hypot(est[:d], est[d:])
    assert np.allclose(hm, em, atol=1e-5)
    # estimate_head inverts estimate_tail
    back = RotatE().estimate_head(est, phase)
    assert np.allclose(back, h, atol=1e-5)


def test_rescal_bilinear():
    d = 3
    h, t = RNG.normal(size=(2, d)).astype(np.float32)
    w = RNG.normal(size=(d, d)).astype(np.float32)
    s = RESCAL().score(h, w.reshape(-1), t)
    assert np.isclose(s, h @ w @ t, atol=1e-5)


def test_swtranse_sorted_particles():
    m = SWTransE(num_particles=2, p=2)
    # one dim, two particles; sets {1,3} and {3,1} are equal -> distance 0
    h = np.array([1.0, 3.0], dtype=np.float32)
    t = np.array([3.0, 1.0], dtype=np.float32)
    r = np.zeros(1, dtype=np.float32)
    assert np.isclose(m.score(h, r, t), 0.0)


def test_inverse_relation_ids():
    assert inverse_relation_ids(np.array([0, 1, 4, 7])).tolist() == [1, 0, 5, 6]


@pytest.mark.parametrize(
    "model", [TransE(), DistMult(), ComplEx(), RotatE(), RESCAL(), SWTransE(num_particles=4)]
)
def test_score_all_consistent_with_score(model):
    n, d = 6, 4
    # entity width: 2d for the complex/particle models, d otherwise
    if isinstance(model, (ComplEx, RotatE, SWTransE)):
        ent = RNG.normal(size=(n, 2 * d)).astype(np.float32)
    else:
        ent = RNG.normal(size=(n, d)).astype(np.float32)
    # relation width per model convention
    if isinstance(model, RotatE):
        rel = RNG.uniform(-np.pi, np.pi, size=(3, d)).astype(np.float32)
    elif isinstance(model, RESCAL):
        rel = RNG.normal(size=(3, d * d)).astype(np.float32)
    elif isinstance(model, ComplEx):
        rel = RNG.normal(size=(3, 2 * d)).astype(np.float32)
    elif isinstance(model, SWTransE):
        rel = RNG.normal(size=(3, 2 * d // model.num_particles)).astype(np.float32)
    else:
        rel = RNG.normal(size=(3, d)).astype(np.float32)
    heads = ent[[0, 1]]
    rels = rel[[0, 1]]
    block = model.score_all(heads, rels, ent)
    assert block.shape == (2, n)
    for b in range(2):
        for j in range(n):
            assert np.isclose(
                block[b, j], model.score(heads[b], rels[b], ent[j]), atol=1e-4
            ), (type(model).__name__, b, j)


def test_spark_score_triples_matches_numpy(spark):
    store = EmbeddingStore.xavier(num_entities=20, num_relations=6, ent_dim=8, seed=1)
    model = TransE()
    rows = [(int(h), int(r), int(t)) for h, r, t in RNG.integers(0, [20, 6, 20], size=(30, 3))]
    df = spark.createDataFrame(rows, schema="h long, r long, t long")
    got = {
        (x["h"], x["r"], x["t"]): x["score"]
        for x in score_triples(df, model, store).collect()
    }
    for h, r, t in rows:
        want = model.score(store.ent[h], store.rel[r], store.ent[t])
        assert np.isclose(got[(h, r, t)], want, atol=1e-4)


def test_spark_score_all_tails_negation(spark):
    store = EmbeddingStore.xavier(num_entities=10, num_relations=4, ent_dim=6, seed=2)
    model = DistMult()
    rows = [(0, 3, 1, True, 0.5)]
    got = merged_grouped_max(spark.createDataFrame(rows, KERNEL_SCHEMA), model, store)
    assert len(got) == 10
    assert_scores_match(got, grouped_max_reference(model, store, rows))
    # the reference itself: the sign flips before acc is added
    assert np.isclose(
        got[(0, 4)], -model.score(store.ent[3], store.rel[1], store.ent[4]) + 0.5, atol=1e-6
    )


def test_spark_rank_of_tails(spark):
    store = EmbeddingStore.xavier(num_entities=12, num_relations=2, ent_dim=4, seed=3)
    model = DistMult()
    df = spark.createDataFrame([(0, 1, 5), (2, 0, 7)], schema="h long, r long, t long")
    got = {(r["h"], r["r"], r["t"]): r["rank"] for r in rank_of_tails(df, model, store).collect()}
    assert len(got) == 2
    for (h, r, t), rank in got.items():
        assert rank == rank_reference(model, store, h, r, t)


def test_tnorm_grouped_product(spark):
    df = spark.createDataFrame(
        [(1, 0.5), (1, 0.4), (2, 0.9), (2, 0.0)], schema="g long, x double"
    )
    tn = TNorm.get("product")
    got = {
        r["g"]: r["p"]
        for r in df.groupBy("g").agg(tn.conj_agg(F.col("x")).alias("p")).collect()
    }
    assert np.isclose(got[1], 0.2)
    assert got[2] == 0.0
    gd = TNorm.get("godel")
    got = {
        r["g"]: r["p"]
        for r in df.groupBy("g").agg(gd.conj_agg(F.col("x")).alias("p")).collect()
    }
    assert np.isclose(got[1], 0.4) and got[2] == 0.0


def test_conve_forward_shapes_and_determinism(spark):
    from knovexlite_spark.functions.kge import ConvE

    m = ConvE(embedding_dim=33, seed=3)
    h = RNG.normal(size=(4, 33)).astype(np.float32)
    r = RNG.normal(size=(4, 33)).astype(np.float32)
    t = RNG.normal(size=(4, 33)).astype(np.float32)
    est = m.estimate_tail(h, r)
    assert est.shape == (4, 33)
    assert np.allclose(est[:, 0], 1.0)  # constant bias feature
    assert np.all(est[:, 1:] >= 0)  # post-ReLU
    # deterministic
    assert np.allclose(ConvE(embedding_dim=33, seed=3).estimate_tail(h, r), est)
    # score_all consistency
    ents = RNG.normal(size=(6, 33)).astype(np.float32)
    block = m.score_all(h[:2], r[:2], ents)
    for b in range(2):
        for j in range(6):
            assert np.isclose(block[b, j], m.score(h[b], r[b], ents[j]), atol=1e-4)
    # bad dimension rejected
    import pytest as _pytest
    with _pytest.raises(ValueError):
        ConvE(embedding_dim=30)


def test_conve_spark_scoring(spark):
    from knovexlite_spark.functions.kge import ConvE, EmbeddingStore

    store = EmbeddingStore.xavier(num_entities=10, num_relations=4, ent_dim=33, seed=9)
    m = ConvE(embedding_dim=33, seed=9)
    df = spark.createDataFrame([(1, 0, 2), (3, 1, 4)], "h long, r long, t long")
    got = {(r_["h"], r_["r"], r_["t"]): r_["score"] for r_ in score_triples(df, m, store).collect()}
    for (h, r, t), s in got.items():
        assert np.isclose(s, m.score(store.ent[h], store.rel[r], store.ent[t]), atol=1e-4)


def test_grouped_max_expansion_equals_unfused(spark):
    """score_all_tails_grouped_max, merged across partitions, equals the
    unfused NumPy block: score_all, sign flip, acc add, max per query."""
    store = EmbeddingStore.xavier(12, 4, ent_dim=6, seed=9)
    rows = [(0, 1, 0, False, 0.0), (0, 2, 1, True, -0.5), (0, 3, 0, False, 1.5),
            (1, 4, 2, False, 0.0), (1, 5, 3, True, 2.0)]
    df = spark.createDataFrame(rows, KERNEL_SCHEMA).repartition(3)
    got = merged_grouped_max(df, TransE(), store)
    assert_scores_match(got, grouped_max_reference(TransE(), store, rows))


def test_grouped_max_requires_column_contract(spark):
    df = spark.createDataFrame([(0, 1, 0)], "query_id long, h long, r long")
    with pytest.raises(ValueError, match=r"missing columns \['acc', 'neg'\]"):
        score_all_tails_grouped_max(df, TransE(), EmbeddingStore.xavier(4, 2, 4), ("query_id",))


def test_all_entity_kernels_chunk_one_row_per_step(spark):
    """Past MAX_FLUX // 2 entities each kernel step scores one source
    row, so the chunk loop runs once per row: grouped max and rank must
    still equal the NumPy block."""
    n = kge.MAX_FLUX // 2 + 1
    assert kge.MAX_FLUX // n == 1
    store = EmbeddingStore.xavier(n, 3, ent_dim=4, seed=11)
    model = DistMult()
    rows = [(0, 7, 0, False, 0.0), (0, 42, 1, True, -0.25), (0, n - 1, 2, False, 0.5),
            (1, 3, 2, False, 1.0), (1, 9, 0, True, 0.0)]
    df = spark.createDataFrame(rows, KERNEL_SCHEMA).coalesce(1)
    got = merged_grouped_max(df, model, store)
    assert_scores_match(got, grouped_max_reference(model, store, rows))

    triples = [(7, 0, 5), (42, 1, n - 1), (n - 1, 2, 0)]
    ranked = rank_of_tails(
        spark.createDataFrame(triples, "h long, r long, t long").coalesce(1), model, store
    ).collect()
    assert sorted((x["h"], x["r"], x["t"]) for x in ranked) == sorted(triples)
    for x in ranked:
        assert x["rank"] == rank_reference(model, store, x["h"], x["r"], x["t"])


def test_store_dataframes_roundtrip(spark):
    store = EmbeddingStore.xavier(5, 2, ent_dim=3, seed=4)
    back = EmbeddingStore.from_dataframes(*store.to_dataframes(spark))
    np.testing.assert_array_equal(back.ent, store.ent)
    np.testing.assert_array_equal(back.rel, store.rel)


@pytest.mark.parametrize(
    "ids, match",
    [
        ([0, 1, 3], r"entity ids must be dense 0..N-1; missing \[2\]"),
        ([0, 1, 1, 2], r"entity table has duplicate ids \[1\]"),
        ([], r"entity table is empty"),
    ],
    ids=["gap", "duplicate", "empty"],
)
def test_store_from_dataframes_rejects_bad_checkpoint(spark, ids, match):
    schema = "id LONG, vec ARRAY<FLOAT>"
    ent = spark.createDataFrame([(i, [float(i), 0.0]) for i in ids], schema)
    rel = spark.createDataFrame([(0, [1.0, 1.0])], schema)
    with pytest.raises(ValueError, match=match):
        EmbeddingStore.from_dataframes(ent, rel)
