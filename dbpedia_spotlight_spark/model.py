"""The compiled model plane (SURVEY.md §1.1, §2.1 S4, §3.3).

Reference behavior: ``db/SpotlightModel.fromFolder`` [U] loads Kryo
memory stores (surface forms, resources, candidate map, context vectors,
token types, quantized counts) into packed arrays shared read-only across
threads. Spark mapping: lexicon tables live as Parquet; ``load_model``
reads them, compiles numpy packed arrays + the Aho-Corasick automaton on
the driver, and the pipeline broadcasts the blob once
(``spark.sparkContext.broadcast``). Python workers lazily deserialize a
single copy per worker process.

Packed layout (CSR everywhere — O(1) per-entity slicing, no dicts on the
hot path):

- surface forms: ``sf_names[sf_id]``, ``sf_ann_prob[sf_id]``
- candidate map: ``cand_indptr[sf_id] : cand_indptr[sf_id+1]`` slices
  ``cand_entity`` / ``cand_prior`` (P(e|s), prior-desc order)
- context store: ``ctx_indptr[entity_id]`` slices ``ctx_token`` (sorted)
  and ``ctx_count`` (dequantized); ``ctx_total[entity_id]`` = Σ counts
- token LM: ``lm_logprob[token_id]`` = log P_LM(t)
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from dbpedia_spotlight_spark.functions.automaton import AhoCorasick, build_automaton
from dbpedia_spotlight_spark.functions.quantize import make_codebook
from dbpedia_spotlight_spark.functions.stemmer import get_stemmer
from dbpedia_spotlight_spark.functions.tokenizer import tokenize

# PIN-AT-IMPLEMENTATION constants (SURVEY §2.9): reference was an empty
# mount; these are frozen as this engine's model spec and exposed as config.
DEFAULT_LAMBDA = 0.8          # generative-LM mixing weight λ (D2)
DEFAULT_SPOT_THRESHOLD = 0.05  # annotationProbability gate (P2)
UNSEEN_LM_LOGPROB = -18.0      # log-prob floor for OOV query tokens


@dataclass
class SpotlightModel:
    """Immutable, picklable, broadcast-friendly model blob."""

    # token types (T4)
    token_index: dict[str, int]
    lm_logprob: np.ndarray          # float64[|vocab|]
    # surface forms (§1.1)
    sf_names: list[str]
    sf_ann_prob: np.ndarray         # float64[|sf|]
    # candidate map (C1): CSR by sf_id, prior-descending within a row
    cand_indptr: np.ndarray         # int64[|sf|+1]
    cand_entity: np.ndarray         # int32[nnz]
    cand_prior: np.ndarray          # float64[nnz]  P(e|s)
    cand_ln_prior: np.ndarray       # float64[nnz]  ln P(e|s), precompiled
                                    # (the hot loop reads it per mention)
    # entities
    ent_uris: list[str]
    ent_support: np.ndarray         # int64[|ent|]
    ent_types: list[tuple[str, ...]]
    # context store (D1/D2): CSR by entity_id, token-ascending within a row
    ctx_indptr: np.ndarray          # int64[|ent|+1]
    ctx_token: np.ndarray           # int32[nnz]
    ctx_count: np.ndarray           # float64[nnz] (dequantized)
    ctx_total: np.ndarray           # float64[|ent|]
    # spotting
    automaton: AhoCorasick
    stopwords: frozenset[str]
    # constants
    lam: float = DEFAULT_LAMBDA
    spot_threshold: float = DEFAULT_SPOT_THRESHOLD
    codebook: np.ndarray = field(default_factory=make_codebook)
    # T2: stemmer NAME (picklable; the callable is resolved per worker)
    stemmer: str = "identity"

    def n_entities(self) -> int:
        return len(self.ent_uris)

    def stem(self, token: str) -> str:
        """T2 normalization applied before every token-index lookup
        (Stemmer.scala [U] — the stemmer belongs to the language model)."""
        return get_stemmer(self.stemmer)(token)

    def token_id(self, token: str) -> int:
        return self.token_index.get(self.stem(token), -1)


def compile_model(
    *,
    surface_forms,   # pandas: sf, sf_id, annotated_count, total_count
    entities,        # pandas: uri, entity_id, support, types(list)
    pair_counts,     # pandas: sf_id, entity_id, count
    token_counts,    # pandas: entity_id, token_id, count  (canonical, post-closure)
    token_types,     # pandas: token, token_id, corpus_count
    stopwords,       # iterable[str]
    lam: float = DEFAULT_LAMBDA,
    spot_threshold: float = DEFAULT_SPOT_THRESHOLD,
    quantize_context: bool = False,
    stemmer: str = "identity",
) -> SpotlightModel:
    """Driver-side compile of lexicon tables → packed arrays + automaton.

    Mirrors MemoryStore loading (``db/memory/MemoryStore.scala`` [U]) but
    sourced from Parquet-backed DataFrames (SURVEY §1.3).

    ``stemmer``: T2 normalization name ('identity' | 'porter'). A
    non-identity stemmer is applied at COMPILE time — token-type vocab is
    stemmed and merged (corpus counts summed), per-entity context
    histograms are re-aggregated onto stem ids, FSA patterns are built
    from stemmed sf tokens — and at REQUEST time through ``model.stem``,
    so inflected text forms ("tables") match lexicon entries ("table"),
    exactly the Stemmer.scala contract [U].
    """
    stem = get_stemmer(stemmer)   # validates the name up front
    if stemmer != "identity":
        tt_st = token_types.copy()
        tt_st["token"] = tt_st["token"].map(stem)
        merged = (
            tt_st.groupby("token", as_index=False)
            .agg(corpus_count=("corpus_count", "sum"))
            .sort_values("token").reset_index(drop=True)
        )
        merged["new_id"] = range(len(merged))
        stem_of_old = dict(zip(token_types["token_id"], tt_st["token"]))
        new_of_stem = dict(zip(merged["token"], merged["new_id"]))
        remap = {old: new_of_stem[s] for old, s in stem_of_old.items()}
        token_types = merged[["token", "new_id", "corpus_count"]].rename(
            columns={"new_id": "token_id"})
        tc_st = token_counts.copy()
        tc_st["token_id"] = tc_st["token_id"].map(remap)
        token_counts = tc_st.groupby(
            ["entity_id", "token_id"], as_index=False).agg(
            count=("count", "sum"))

    tt = token_types.sort_values("token_id")
    n_tok = int(tt["token_id"].max()) + 1 if len(tt) else 0
    token_index = dict(zip(tt["token"], tt["token_id"].astype(int)))
    corpus = np.zeros(n_tok, dtype=np.float64)
    corpus[tt["token_id"].to_numpy()] = tt["corpus_count"].to_numpy(dtype=np.float64)
    total_tokens = corpus.sum()
    with np.errstate(divide="ignore"):
        lm_logprob = np.where(
            corpus > 0, np.log(np.maximum(corpus, 1e-300) / max(total_tokens, 1.0)), UNSEEN_LM_LOGPROB
        )

    sf = surface_forms.sort_values("sf_id").reset_index(drop=True)
    n_sf = int(sf["sf_id"].max()) + 1 if len(sf) else 0
    sf_names = [""] * n_sf
    sf_ann_prob = np.zeros(n_sf, dtype=np.float64)
    for _, r in sf.iterrows():
        sf_names[int(r["sf_id"])] = r["sf"]
        tot = max(int(r["total_count"]), 1)
        sf_ann_prob[int(r["sf_id"])] = int(r["annotated_count"]) / tot

    ent = entities.sort_values("entity_id").reset_index(drop=True)
    n_ent = int(ent["entity_id"].max()) + 1 if len(ent) else 0
    ent_uris = [""] * n_ent
    ent_support = np.zeros(n_ent, dtype=np.int64)
    ent_types: list[tuple[str, ...]] = [()] * n_ent
    for _, r in ent.iterrows():
        eid = int(r["entity_id"])
        ent_uris[eid] = r["uri"]
        ent_support[eid] = int(r["support"])
        t = r["types"]
        ent_types[eid] = tuple(t) if t is not None else ()

    # candidate CSR: P(e|s) = c(s,e) / Σ_e' c(s,e')   (SURVEY §2.9)
    pc = pair_counts.sort_values(["sf_id", "count"], ascending=[True, False])
    cand_indptr = np.zeros(n_sf + 1, dtype=np.int64)
    np.add.at(cand_indptr, pc["sf_id"].to_numpy(dtype=np.int64) + 1, 1)
    cand_indptr = np.cumsum(cand_indptr)
    cand_entity = pc["entity_id"].to_numpy(dtype=np.int32)
    counts = pc["count"].to_numpy(dtype=np.float64)
    sums = np.zeros(n_sf, dtype=np.float64)
    np.add.at(sums, pc["sf_id"].to_numpy(dtype=np.int64), counts)
    cand_prior = counts / np.maximum(sums[pc["sf_id"].to_numpy(dtype=np.int64)], 1e-300)
    cand_ln_prior = np.log(np.maximum(cand_prior, 1e-300))

    # context CSR, token-sorted per entity for searchsorted gathers (D2)
    tc = token_counts.sort_values(["entity_id", "token_id"])
    ctx_indptr = np.zeros(n_ent + 1, dtype=np.int64)
    np.add.at(ctx_indptr, tc["entity_id"].to_numpy(dtype=np.int64) + 1, 1)
    ctx_indptr = np.cumsum(ctx_indptr)
    ctx_token = tc["token_id"].to_numpy(dtype=np.int32)
    ctx_count = tc["count"].to_numpy(dtype=np.float64)
    if quantize_context:
        # MemoryQuantizedCountStore semantics [U]: counts round-trip the
        # exponentially-binned int16 codebook (≈2× context-store shrink in
        # the broadcast blob; scores drift < half a bin, Daiber 2013)
        from dbpedia_spotlight_spark.functions.quantize import (
            dequantize, quantize_array,
        )
        codes = quantize_array(ctx_count)
        ctx_count = np.array([dequantize(int(k)) for k in codes],
                             dtype=np.float64)
    ctx_total = np.zeros(n_ent, dtype=np.float64)
    np.add.at(ctx_total, tc["entity_id"].to_numpy(dtype=np.int64), ctx_count)

    # FSA over token-id sequences (P1): pattern = sf name tokenized,
    # lowered (T5) and stemmed (T2) — the same chain the request path runs
    patterns = []
    for sf_id, name in enumerate(sf_names):
        if not name:
            continue
        ids = tuple(token_index.get(stem(t), -1)
                    for (_, _, t) in tokenize(name))
        patterns.append((ids, sf_id))
    automaton = build_automaton(patterns)

    return SpotlightModel(
        token_index=token_index,
        lm_logprob=lm_logprob,
        sf_names=sf_names,
        sf_ann_prob=sf_ann_prob,
        cand_indptr=cand_indptr,
        cand_entity=cand_entity,
        cand_prior=cand_prior,
        cand_ln_prior=cand_ln_prior,
        ent_uris=ent_uris,
        ent_support=ent_support,
        ent_types=ent_types,
        ctx_indptr=ctx_indptr,
        ctx_token=ctx_token,
        ctx_count=ctx_count,
        ctx_total=ctx_total,
        automaton=automaton,
        stopwords=frozenset(stopwords),
        lam=lam,
        spot_threshold=spot_threshold,
        stemmer=stemmer,
    )


# Documented driver-memory ceiling PER LEXICON TABLE (same discipline
# as plans/model_build.SF_DRIVER_BYTES_CEILING): compile_model is
# inherently driver-resident — the broadcast blob is built there — and
# token_counts is the largest thing this engine ever collects (full
# Wikipedia ≈ low-GB). The pre-flight estimate below fails fast BEFORE
# any driver allocation; bigger lexicons must raise the ceiling (and
# driver memory) consciously rather than discover the limit as an OOM
# mid-toPandas.
LEXICON_TABLE_BYTES_CEILING = 1 << 30


def _estimate_pandas_bytes(df) -> int:
    """Executor-side exact estimate of the pandas in-memory footprint of
    ``df.toPandas()``: utf-8 bytes + CPython compact-str floor (49B) +
    object pointer (8B) per string cell, 8B per numeric/temporal cell —
    ONE map-side-combinable aggregate, O(1) driver memory."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    per_row = 0
    terms = []
    for f in df.schema.fields:
        if isinstance(f.dataType, StringType):
            terms.append(F.sum(F.coalesce(F.octet_length(f.name),
                                          F.lit(0)) + F.lit(57)))
        else:
            per_row += 8
    terms.append(F.count(F.lit(1)) * per_row)
    row = df.agg(sum(terms[1:], terms[0]).alias("b")).collect()[0]
    return int(row["b"] or 0)


def load_model(spark, lexicon_dir: str,
               byte_ceiling: int = LEXICON_TABLE_BYTES_CEILING,
               stats_out: dict | None = None, **kwargs) -> SpotlightModel:
    """Read lexicon Parquet tables and compile (S4). The lexicon is the
    *small* side — full-Wikipedia scale is a few GB of packed arrays,
    which broadcasts once per executor. Every table is byte-accounted
    BEFORE collection (``_estimate_pandas_bytes``) and refused past
    ``byte_ceiling``; ``stats_out`` (optional dict) receives the
    per-table estimates as ``driver_bytes_<table>``."""
    def pdf(name):
        df = spark.read.parquet(f"{lexicon_dir}/{name}.parquet")
        est = _estimate_pandas_bytes(df)
        if stats_out is not None:
            stats_out[f"driver_bytes_{name}"] = est
        if est > byte_ceiling:
            raise RuntimeError(
                f"lexicon table '{name}' would need ~{est / 2**20:.0f} "
                f"MiB on the driver > ceiling "
                f"{byte_ceiling / 2**20:.0f} MiB — raise byte_ceiling "
                f"(and driver memory) or shard the model compile")
        return df.toPandas()

    stop = pdf("stopwords")
    return compile_model(
        surface_forms=pdf("surface_forms"),
        entities=pdf("entities"),
        pair_counts=pdf("pair_counts"),
        token_counts=pdf("token_counts"),
        token_types=pdf("token_types"),
        stopwords=stop["token"].tolist(),
        **kwargs,
    )


def _ctx_counts(model: SpotlightModel, entity_ids: np.ndarray,
                q_tokens: np.ndarray) -> np.ndarray:
    """The context-gather kernel both similarities share: the
    candidates × query-bag matrix of raw context counts c(t,e).

    ONE flat gather over ALL candidates' CSR rows + ONE searchsorted of
    the concatenated row tokens into the (sorted) query bag — no python
    iteration and no small-array searchsorted per candidate."""
    eids = np.asarray(entity_ids, dtype=np.int64)
    los = model.ctx_indptr[eids]
    lens = model.ctx_indptr[eids + 1] - los
    total = int(lens.sum())
    n_q = len(q_tokens)
    c_mat = np.zeros((len(eids), n_q), dtype=np.float64)
    if total and n_q:
        offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
        flat = (np.arange(total, dtype=np.int64)
                - np.repeat(offs, lens) + np.repeat(los, lens))
        row_of = np.repeat(np.arange(len(eids), dtype=np.int64), lens)
        row_tok = model.ctx_token[flat]
        pos = np.searchsorted(q_tokens, row_tok)
        clip = np.minimum(pos, n_q - 1)
        hit = q_tokens[clip] == row_tok
        c_mat[row_of[hit], clip[hit]] = model.ctx_count[flat][hit]
    return c_mat


def context_loglik(
    model: SpotlightModel,
    entity_ids: np.ndarray,
    q_tokens: np.ndarray,
    q_counts: np.ndarray,
) -> np.ndarray:
    """Generative context similarity (SURVEY §2.5 D2, Daiber 2013):

    log P(q|e) = Σ_t n(t,q) · log( λ·c(t,e)/C(e) + (1−λ)·P_LM(t) )

    for every candidate in ``entity_ids`` at once (``_ctx_counts``
    gather). q_tokens must be sorted ascending."""
    lam = model.lam
    smooth = (1.0 - lam) * np.exp(model.lm_logprob[q_tokens])
    p = (lam * _ctx_counts(model, entity_ids, q_tokens)
         / np.maximum(model.ctx_total[entity_ids], 1e-300)[:, None]
         + smooth[None, :])
    return np.log(np.maximum(p, 1e-300)) @ q_counts


def tficf_scores(
    model: SpotlightModel,
    groups: list[np.ndarray],   # candidate entity_ids per mention
    q_tokens: np.ndarray,
    q_counts: np.ndarray,
) -> list[np.ndarray]:
    """TF-ICF similarity (SURVEY §2.5 D3, Mendes 2011):

    score(e) = Σ_t tf(t,q)·tf(t,e)·icf(t),   tf(t,e) = c(t,e)/C(e),
    icf(t) = log(|cands| / |{e ∈ cands : c(t,e)>0}|)

    computed per disambiguation instance over *its* candidate set; all
    groups share ONE ``_ctx_counts`` gather (q_tokens sorted ascending).
    """
    sizes = [len(g) for g in groups]
    eids = np.concatenate(groups)
    tf_all = (_ctx_counts(model, eids, q_tokens)
              / np.maximum(model.ctx_total[eids], 1e-300)[:, None])
    out = []
    off = 0
    for n in sizes:
        tf_mat = tf_all[off:off + n]
        off += n
        df = (tf_mat > 0).sum(axis=0)
        icf = np.where(df > 0, np.log(n / np.maximum(df, 1)), 0.0)
        out.append(tf_mat @ (q_counts * icf))
    return out


def lnsum(scores: np.ndarray) -> float:
    """Numerically stable log-sum-exp (util/MathUtil.scala lnsum [U])."""
    m = float(np.max(scores))
    return m + math.log(float(np.sum(np.exp(scores - m))))
