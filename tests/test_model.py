"""Model compile + scoring math (SURVEY §2.9) + quantization."""

from __future__ import annotations

import math

import numpy as np

from dbpedia_spotlight_spark.functions.quantize import (
    dequantize, make_codebook, quantize, quantize_array,
)
from dbpedia_spotlight_spark.model import context_loglik, lnsum, tficf_scores


def test_priors_normalize(model):
    # P(e|s) sums to 1 per surface form with candidates
    for sf_id in range(len(model.sf_names)):
        lo, hi = model.cand_indptr[sf_id], model.cand_indptr[sf_id + 1]
        if hi > lo:
            assert abs(model.cand_prior[lo:hi].sum() - 1.0) < 1e-9
            # prior-descending within a row (C2 pruning relies on this)
            assert (np.diff(model.cand_prior[lo:hi]) <= 1e-12).all()


def test_annotation_probability(model, lexicon):
    row = lexicon.surface_forms[lexicon.surface_forms["sf"] == "zeta"].iloc[0]
    assert model.sf_ann_prob[int(row["sf_id"])] == row["annotated_count"] / row["total_count"]
    # below the default spot gate
    assert model.sf_ann_prob[int(row["sf_id"])] < model.spot_threshold


def test_context_loglik_matches_naive(model, lexicon):
    """Vectorized generative score == direct formula (SURVEY §2.9)."""
    rng = np.random.default_rng(0)
    eids = rng.integers(0, model.n_entities(), size=5)
    q_tokens = np.array(sorted(rng.choice(len(model.lm_logprob), size=6, replace=False)))
    q_counts = rng.integers(1, 4, size=6).astype(float)

    got = context_loglik(model, eids, q_tokens, q_counts)
    lam = model.lam
    for i, eid in enumerate(eids):
        lo, hi = model.ctx_indptr[eid], model.ctx_indptr[eid + 1]
        row = dict(zip(model.ctx_token[lo:hi].tolist(), model.ctx_count[lo:hi].tolist()))
        total = max(model.ctx_total[eid], 1e-300)
        expect = 0.0
        for t, n in zip(q_tokens, q_counts):
            p = lam * row.get(int(t), 0.0) / total + (1 - lam) * math.exp(model.lm_logprob[t])
            expect += n * math.log(max(p, 1e-300))
        assert abs(got[i] - expect) < 1e-9


def test_tficf_icf_definition(model):
    """ICF computed over the instance's candidate set (Mendes 2011)."""
    ents = np.array([0, 1, 2])
    q_tokens = np.array(sorted(
        model.ctx_token[model.ctx_indptr[0]:model.ctx_indptr[1]][:3].tolist()
    ))
    q_counts = np.ones(len(q_tokens))
    scores = tficf_scores(model, [ents], q_tokens, q_counts)[0]
    assert scores.shape == (3,)
    # entity 0's own context tokens → positive score for e0, ~0 for others
    assert scores[0] > scores[1] and scores[0] > scores[2]


def test_tficf_scores_match_naive(model):
    """Batched TF-ICF == direct Mendes-2011 formula (SURVEY §2.5 D3),
    with ICF over each group's own candidate set, several groups per
    call: score(e) = Σ_t n(t,q)·tf(t,e)·log(|cands| / df(t))."""
    rng = np.random.default_rng(1)
    groups = [rng.choice(model.n_entities(), size=n, replace=False)
              for n in (2, 3, 5, 1, 4)]
    # query tokens drawn from the candidates' own contexts, so tf > 0
    # and 0 < df < |cands| both occur
    own = np.unique(np.concatenate([
        model.ctx_token[model.ctx_indptr[e]:model.ctx_indptr[e + 1]]
        for g in groups for e in g]))
    q_tokens = np.array(sorted(rng.choice(own, size=10, replace=False)),
                        dtype=np.int64)
    q_counts = rng.integers(1, 4, size=10).astype(float)

    got = tficf_scores(model, groups, q_tokens, q_counts)
    assert len(got) == len(groups)
    nonzero = 0
    for ents, scores in zip(groups, got):
        tf = []
        for eid in ents:
            lo, hi = model.ctx_indptr[eid], model.ctx_indptr[eid + 1]
            row = dict(zip(model.ctx_token[lo:hi].tolist(),
                           model.ctx_count[lo:hi].tolist()))
            total = max(model.ctx_total[eid], 1e-300)
            tf.append({int(t): row.get(int(t), 0.0) / total
                       for t in q_tokens})
        assert scores.shape == (len(ents),)
        for i in range(len(ents)):
            expect = 0.0
            for t, n in zip(q_tokens.tolist(), q_counts.tolist()):
                df = sum(1 for d in tf if d[t] > 0)
                icf = math.log(len(ents) / df) if df else 0.0
                expect += n * tf[i][t] * icf
            assert abs(scores[i] - expect) < 1e-9
            nonzero += expect != 0.0
    assert nonzero > 0


def test_lnsum():
    xs = np.array([-1000.0, -1000.0])
    assert abs(lnsum(xs) - (-1000.0 + math.log(2))) < 1e-12


def test_quantize_roundtrip_small_exact():
    for c in range(0, 17):
        assert dequantize(quantize(c)) == c


def test_quantize_relative_error_bounded():
    for c in [20, 100, 1000, 50000, 10**7]:
        err = abs(dequantize(quantize(c)) - c) / c
        assert err < 0.06  # base 1.1 → ≤ ~5% relative error


def test_quantize_array_matches_scalar():
    counts = np.array([0, 1, 16, 17, 100, 99999])
    codes = quantize_array(counts)
    assert codes.dtype == np.int16
    assert [int(x) for x in codes] == [quantize(int(c)) for c in counts]


def test_codebook_dense_lookup():
    cb = make_codebook(300)
    assert cb[quantize(1234)] == dequantize(quantize(1234))


def test_load_model_byte_accounting(spark, lexicon, tmp_path):
    """load_model pre-flight-accounts every lexicon table (round-5
    VERDICT item: same driver-memory discipline as
    collect_surface_forms) — stats record per-table bytes, and a tiny
    ceiling refuses the load BEFORE any driver allocation."""
    import pytest

    from dbpedia_spotlight_spark.datagen import write_lexicon
    from dbpedia_spotlight_spark.model import load_model

    write_lexicon(spark, lexicon, str(tmp_path / "lex"))
    stats: dict = {}
    m = load_model(spark, str(tmp_path / "lex"), stats_out=stats)
    assert m.n_entities() > 0
    tables = ("stopwords", "surface_forms", "entities", "pair_counts",
              "token_counts", "token_types")
    assert {f"driver_bytes_{t}" for t in tables} <= set(stats)
    assert all(v > 0 for v in stats.values())
    with pytest.raises(RuntimeError, match="ceiling"):
        load_model(spark, str(tmp_path / "lex"), byte_ceiling=64)


def test_estimate_pandas_bytes_million_rows(spark):
    """The executor-side footprint estimate tracks the REAL pandas
    memory of a full-Wikipedia-shaped 1M-row token_counts table within
    a tight band — the accounting a GB-scale lexicon load relies on."""
    from pyspark.sql import functions as F

    from dbpedia_spotlight_spark.model import _estimate_pandas_bytes

    df = (spark.range(1_000_000).select(
        F.concat(F.lit("dbr:Entity_"),
                 (F.col("id") % 9973).cast("string")).alias("uri"),
        F.concat(F.lit("tok"),
                 (F.col("id") % 50021).cast("string")).alias("token"),
        (F.col("id") % 97 + 1).alias("count")))
    est = _estimate_pandas_bytes(df)
    pdf = df.toPandas()
    actual = int(pdf.memory_usage(deep=True).sum())
    assert len(pdf) == 1_000_000
    assert 0.8 * actual <= est <= 1.3 * actual
