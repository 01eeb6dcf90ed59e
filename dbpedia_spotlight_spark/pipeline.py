"""The annotate pipeline (SURVEY.md §3.1) — Spark-first design.

Reference lifecycle: Annotate.java → SpotlightInterface → tokenizer →
FSASpotter → DBCandidateSearcher → DBTwoStepDisambiguator.bestK →
CombineAllAnnotationFilters → serializer (SURVEY §3.1 [U]).

Spark design decision (scale rationale): entity linking is
**embarrassingly parallel per document** — nothing in
spot→candidates→disambiguate→filter crosses document boundaries. The
reference exploits this with request threads; the idiomatic Spark
equivalent is a *single mapInPandas pass* with the model broadcast:

    read parquet/iceberg (url, html[, lang])     ← column-pruned scan
      → filter(lang = 'en')                      ← pushed to the scan
      → mapInPandas(annotate_batch)              ← ONE JVM↔Python crossing
      → write triples

Zero shuffles, no skewed groupBy: a 100 TB corpus maps straight through.
Mega-host url skew is irrelevant (work ∝ bytes per partition, set by
``spark.sql.files.maxPartitionBytes``); stopword-like surface-form skew is
killed *inside* the UDF by the annotationProbability spot gate and
candidate top-K pruning before scoring (north_star: "candidate-list
pruning before the disambiguation shuffle" — here the shuffle is removed
entirely, which is strictly better).

There is one path through the UDF. ``_map_docs`` is the one
mapInPandas pass of all four endpoints (annotate, candidates, spot,
nil_spots); ``_doc_spots`` tokenizes, spots and builds the
per-paragraph context bags; ``_score_doc`` scores every disambiguator (prior, generative,
tficf) the same way — ln P(e|s) plus one batched context call per
paragraph over the shared ``model._ctx_counts`` gather — and
``_rank_scores`` ranks. ``sources.spotxml.disambiguate_xml`` feeds
externally supplied spots into the same bag and scoring code.

A relational path (explode → broadcast join → window) is kept for
transparency and as the oracle cross-check (§3.1's DAG); tests assert the
two paths agree row-for-row.
"""

from __future__ import annotations

import bisect
import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from dbpedia_spotlight_spark.functions.extraction import strip_html
from dbpedia_spotlight_spark.functions.tokenizer import tokenize
from dbpedia_spotlight_spark.functions.automaton import resolve_overlaps
from dbpedia_spotlight_spark.model import SpotlightModel, context_loglik, tficf_scores


@dataclass
class PipelineConfig:
    """The reference's REST parameter surface as config (SURVEY §2.12)."""

    confidence: float = 0.0          # F1
    support: int = 0                 # F2
    types: tuple[str, ...] = ()      # F3 whitelist/blacklist
    policy: str = "whitelist"        # 'whitelist' | 'blacklist'
    disambiguator: str = "generative"  # 'prior' (D8) | 'generative' (D2) | 'tficf' (D3)
    spotter: str = "fsa"             # P1 'fsa' | P3 'npchunk' (chunk-exact)
    k: int = 1                       # D6 bestK
    lang: str | None = "en"
    coreference: bool = False        # F5

    def __post_init__(self) -> None:
        if self.disambiguator not in ("prior", "generative", "tficf"):
            raise ValueError(f"unknown disambiguator: {self.disambiguator}")
        if self.spotter not in ("fsa", "npchunk"):
            raise ValueError(
                f"unknown spotter: {self.spotter} ('fsa' is the "
                "statistical-backend spotter P1; 'npchunk' is the "
                "chunk-exact precision spotter P3; wiki-markup input goes "
                "through sources.wikimarkup)")


# C2: candidates kept (top-K by prior; rows are prior-desc) for scoring
_MAX_CANDIDATES = 20

ANNOTATION_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("begin", IntegerType()),
    StructField("end", IntegerType()),
    StructField("surface_form", StringType()),
    StructField("uri", StringType()),
    StructField("rank", IntegerType()),
    StructField("similarity_score", DoubleType()),
    StructField("percentage_of_second_rank", DoubleType()),
    StructField("support", LongType()),
    StructField("types", ArrayType(StringType())),
])

SPOT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("begin", IntegerType()),
    StructField("end", IntegerType()),
    StructField("surface_form", StringType()),
    StructField("sf_id", IntegerType()),
    StructField("annotation_probability", DoubleType()),
])

# per-worker broadcast-deserialization cache (SURVEY §3.1: each Python
# worker materializes the model once, not once per task)
_MODEL_CACHE: dict[int, SpotlightModel] = {}


def _get_model(bc) -> SpotlightModel:
    # key by the broadcast's unique spill path (worker-side Broadcast
    # carries no .id) — NOT id(bc): CPython reuses freed addresses, so a
    # second broadcast in the same driver can collide with a stale cache
    # entry in a reused worker and silently annotate with the WRONG model
    key = getattr(bc, "_path", None) or id(bc)
    m = _MODEL_CACHE.get(key)
    if m is None:
        m = bc.value
        _MODEL_CACHE.clear()
        _MODEL_CACHE[key] = m
    return m


def _token_lookup(model: SpotlightModel):
    """token → id lookup fn honoring the model's T2 stemmer. Identity
    models keep the raw dict.get (no per-token call overhead on the
    flagship hot loop); stemming models compose stem→lookup."""
    if model.stemmer == "identity":
        return model.token_index.get
    from dbpedia_spotlight_spark.functions.stemmer import get_stemmer
    st = get_stemmer(model.stemmer)
    tix = model.token_index.get

    def lookup(t: str, default=None):
        return tix(st(t), default)

    return lookup


def _bag(counts: dict[int, int]) -> tuple[np.ndarray, np.ndarray]:
    if counts:
        q_tokens = np.fromiter(sorted(counts), dtype=np.int64)
        q_counts = np.array([counts[t] for t in q_tokens], dtype=np.float64)
        return q_tokens, q_counts
    return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)


def _para_bags(model: SpotlightModel, text: str, toks):
    """ONE pass over ``toks`` (``tokenize(text)``) builds both the
    token-id stream (automaton input, -1 = out of vocabulary) and the
    per-paragraph context bags (D1 step 1 — the reference's two-step
    disambiguator builds ONE context query per *paragraph*,
    db/DBTwoStepDisambiguator.scala [U]; paragraphs are the
    '\\n'-separated lines of the text; stopwords are left out).

    Returns (ids, bounds, bags): bounds = char offset of each '\\n'
    (``_para_of`` maps a char offset to its paragraph); bags[para_idx]
    = (q_tokens sorted, q_counts)."""
    lookup = _token_lookup(model)
    bounds: list[int] = []
    pos = text.find("\n")
    while pos != -1:
        bounds.append(pos)
        pos = text.find("\n", pos + 1)

    # tokens arrive in char order, so the paragraph index advances with
    # a monotone pointer — no per-token bisect, no second zip pass
    counts: list[dict[int, int]] = [dict() for _ in range(len(bounds) + 1)]
    stop = model.stopwords
    ids: list[int] = []
    ap_ids = ids.append
    bi, nb = 0, len(bounds)
    cur = counts[0]
    for (b, _, t) in toks:
        tid = lookup(t, -1)
        ap_ids(tid)
        if tid >= 0 and t not in stop:
            if bi < nb and b > bounds[bi]:
                while bi < nb and b > bounds[bi]:
                    bi += 1
                cur = counts[bi]
            cur[tid] = cur.get(tid, 0) + 1
    return ids, bounds, [_bag(c) for c in counts]


def _para_of(bounds: list[int], char_begin: int) -> int:
    return bisect.bisect_right(bounds, char_begin) if bounds else 0


def _doc_spots(model: SpotlightModel, text: str, spotter: str = "fsa"):
    """Tokenize (T1/T5) + spot (P1 FSA / P3 chunk-exact) + gate (P2) +
    overlap resolve (P4) + per-paragraph context bags (``_para_bags``).

    ``spotter='npchunk'`` (P3, OpenNLPChunkerSpotter semantics [U]): a
    chunk is a maximal stopword-free token run (the model-free shallow
    NP heuristic — no OpenNLP models in this stack); a spot is emitted
    only when the ENTIRE chunk is a lexicon surface form — the
    precision-oriented spotter (e.g. 'big table scan' yields no spot
    even though 'table scan' is an sf). Chunk-exact matches cannot
    overlap, so P4 resolution is a no-op on this path.

    Returns (spots, bags): spots = [(begin, end, sf_id, para_idx)] in char
    coords of ``text``; bags[para_idx] = (q_tokens sorted, q_counts)."""
    toks = tokenize(text)
    ids, bounds, bags = _para_bags(model, text, toks)
    matches = model.automaton.find_all(ids)
    if spotter == "npchunk":
        # chunk span per token index: runs delimited by stopwords
        chunk_of: list[tuple[int, int] | None] = [None] * len(toks)
        start = None
        for i, (_, _, t) in enumerate(toks):
            if t in model.stopwords:
                if start is not None:
                    for j in range(start, i):
                        chunk_of[j] = (start, i)
                    start = None
            elif start is None:
                start = i
        if start is not None:
            for j in range(start, len(toks)):
                chunk_of[j] = (start, len(toks))
        matches = [m for m in matches
                   if chunk_of[m[0]] == (m[0], m[1])]
    # spot gate BEFORE overlap resolution: below-gate spots must not block
    # legitimate overlapping spots (DBSpotter threshold gating [U])
    gated = [m for m in matches if model.sf_ann_prob[m[2]] >= model.spot_threshold]
    spots = [
        (toks[s][0], toks[e - 1][1], sf_id, _para_of(bounds, toks[s][0]))
        for (s, e, sf_id) in resolve_overlaps(gated)
    ]
    return spots, bags


def _score_doc(model: SpotlightModel, cfg: PipelineConfig, spots, bags):
    """Disambiguate all spots of one document (D1–D7), each against its
    paragraph's context bag — the one scorer of every disambiguator.
    Returns rows (begin, end, sf_id, entity_id, rank, similarity,
    pct_second).

    score(e) = ln P(e|s) + context(e), where context is
    ``context_loglik`` (generative, D2), ``tficf_scores`` (tficf, D3) or
    nothing (prior, D8). Scores depend only on (paragraph, surface form),
    so repeated mentions of an sf in a paragraph (Zipf-frequent) are
    scored ONCE via a memo. NIL surface forms (C3) emit nothing and
    singletons rank 1 with similarity 1.0 unscored (context cannot move
    a softmax over one score); the rest are C2-pruned to their
    ``_MAX_CANDIDATES`` best priors and each paragraph's candidate groups
    go through ONE context call, then ``_rank_scores``."""
    indptr, cand_entity = model.cand_indptr, model.cand_entity
    memo: dict[tuple[int, int], list] = {}
    pending: dict[int, list[int]] = {}
    for (_b, _e, sf_id, para_idx) in spots:
        key = (para_idx, sf_id)
        if key in memo:
            continue
        lo, hi = indptr[sf_id], indptr[sf_id + 1]
        if hi <= lo:
            memo[key] = []
        elif hi - lo == 1:
            memo[key] = [(int(cand_entity[lo]), 1, 1.0, 0.0)]
        else:
            memo[key] = None
            pending.setdefault(para_idx, []).append(sf_id)
    for para_idx, sf_list in pending.items():
        q_tokens, q_counts = bags[para_idx]
        spans = []
        parts = []
        off = 0
        for sf_id in sf_list:
            lo = int(indptr[sf_id])
            hi = min(int(indptr[sf_id + 1]), lo + _MAX_CANDIDATES)
            spans.append((sf_id, lo, hi, off))
            parts.append(cand_entity[lo:hi].astype(np.int64))
            off += hi - lo
        if cfg.disambiguator == "generative":
            flat = context_loglik(model, np.concatenate(parts), q_tokens,
                                  q_counts)
            ctx = [flat[o:o + hi - lo] for (_, lo, hi, o) in spans]
        elif cfg.disambiguator == "tficf":
            ctx = tficf_scores(model, parts, q_tokens, q_counts)
        else:
            ctx = [0.0] * len(parts)  # prior: ln P(e|s) alone
        for (sf_id, lo, hi, _), ents, c in zip(spans, parts, ctx):
            memo[(para_idx, sf_id)] = _rank_scores(
                ents, model.cand_ln_prior[lo:hi] + c, cfg.k)

    return [(begin, end, sf_id, eid, rank, sim, pct2)
            for (begin, end, sf_id, para_idx) in spots
            for (eid, rank, sim, pct2) in memo[(para_idx, sf_id)]]


def _rank_scores(ents: np.ndarray, scores: np.ndarray, k: int) -> list:
    """D5 softmax + D6 top-K + D7 second-rank margin over one mention's
    candidate scores → [(eid, rank, sim, pct2)].

    Lists hold at most ``_MAX_CANDIDATES`` entries, so a plain-python
    sort + math.exp beats the numpy call chain (argsort + fancy index +
    exp + sum is pure per-call overhead at these sizes). math.exp and
    np.exp agree to the last ulp or so, five decades inside the
    contract's 9-dp score rounding."""
    n = len(scores)
    s = scores.tolist()
    order = sorted(range(n), key=lambda i: (-s[i], i))
    m = s[order[0]]
    exp_s = [math.exp(s[i] - m) for i in order]
    tot = sum(exp_s)
    ranked = []
    for r in range(min(k, n)):
        pct2 = math.exp(s[order[r + 1]] - s[order[r]]) if r + 1 < n else 0.0
        ranked.append((int(ents[order[r]]), r + 1, exp_s[r] / tot, pct2))
    return ranked


def _passes_filters(model: SpotlightModel, cfg: PipelineConfig,
                    eid: int, sim: float, pct2: float) -> bool:
    """F1 confidence + F2 support + F3 type filters (SURVEY §2.6).

    Composite confidence rule (PIN-AT-IMPLEMENTATION, frozen as spec):
    similarity_score >= confidence AND percentage_of_second_rank <=
    (1 - confidence) — ConfidenceFilter + PercentageOfSecondFilter [U].
    Both comparisons carry a 1e-12 pad so a score landing within an ulp
    of the threshold passes identically here and in every SQL mirror.
    """
    if sim < cfg.confidence - 1e-12 or pct2 > 1.0 - cfg.confidence + 1e-12:
        return False
    if model.ent_support[eid] < cfg.support:
        return False
    if cfg.types:
        hit = bool(set(model.ent_types[eid]) & set(cfg.types))
        if cfg.policy == "whitelist" and not hit:
            return False
        if cfg.policy == "blacklist" and hit:
            return False
    return True


def _coref_merge(model: SpotlightModel, scored: list) -> list:
    """F5 coreference resolution (SURVEY §2.6): a later, shorter mention
    whose token sequence is a suffix of an earlier longer mention's
    surface form (e.g. "Obama" after "Barack Obama") inherits the earlier
    mention's entity. Doc-local — runs inside the fused UDF, no shuffle.
    Only rank-1 rows are retargeted; scores are kept (the reference
    rewrites the resource on the occurrence, Annotate coreference param
    [U])."""
    out = []
    seen: list[tuple[int, tuple[str, ...], int]] = []  # (begin, sf_tokens, eid)
    for row in sorted(scored, key=lambda r: (r[0], r[4])):
        (begin, end, sf_id, eid, rank, sim, pct2) = row
        toks = tuple(model.sf_names[sf_id].split())
        if rank == 1:
            for (b0, toks0, eid0) in seen:
                if b0 < begin and len(toks0) > len(toks) \
                        and toks0[-len(toks):] == toks:
                    eid = eid0
                    break
            seen.append((begin, toks, eid))
        out.append((begin, end, sf_id, eid, rank, sim, pct2))
    return out


def _annotate_docs(model: SpotlightModel, cfg: PipelineConfig, docs,
                   apply_filters: bool) -> pd.DataFrame:
    """(url, text) docs → scored annotations (ANNOTATION_SCHEMA)."""
    # columnar accumulation: one list per output column (a list-of-tuples
    # DataFrame build transposes row-wise — ~2× the allocation traffic,
    # which is what limits multi-worker scaling on a shared memory bus)
    cols: tuple[list, ...] = tuple([] for _ in ANNOTATION_SCHEMA.fields)
    (c_url, c_begin, c_end, c_sf, c_uri, c_rank, c_sim, c_pct2,
     c_support, c_types) = cols
    # vacuous filter config (the /annotate default) → skip the per-row
    # filter call entirely (it is pure overhead: everything passes)
    if apply_filters and cfg.confidence <= 0.0 and cfg.support <= 0 \
            and not cfg.types:
        apply_filters = False
    sf_names, ent_uris = model.sf_names, model.ent_uris
    ent_support, ent_types = model.ent_support, model.ent_types
    for url, text in docs:
        spots, bags = _doc_spots(model, text, cfg.spotter)
        scored = _score_doc(model, cfg, spots, bags)
        if cfg.coreference:
            scored = _coref_merge(model, scored)
        if apply_filters:
            scored = [row for row in scored
                      if _passes_filters(model, cfg, row[3], row[5], row[6])]
        if not scored:
            continue
        # transpose once + C-level extend/map: ~2× cheaper than a
        # 10-append python loop per output row
        begins, ends, sfs, eids, ranks, sims, pct2s = zip(*scored)
        c_url.extend([url] * len(scored))
        c_begin.extend(begins)
        c_end.extend(ends)
        c_sf.extend(map(sf_names.__getitem__, sfs))
        c_uri.extend(map(ent_uris.__getitem__, eids))
        c_rank.extend(ranks)
        c_sim.extend(sims)
        c_pct2.extend(pct2s)
        c_support.extend([int(ent_support[e]) for e in eids])
        c_types.extend([list(ent_types[e]) for e in eids])
    # types must be an object Series: with uniform-length lists pandas
    # would np.asarray the column into a 2-D ndarray, which Arrow cannot
    # convert to list<string>
    return pd.DataFrame({
        f.name: (pd.Series(c, dtype=object) if f.name == "types" else c)
        for f, c in zip(ANNOTATION_SCHEMA.fields, cols)
    })


def _map_docs(web_pages: DataFrame, model_bc, cfg: PipelineConfig,
              schema: StructType, emit) -> DataFrame:
    """The one fused, shuffle-free mapInPandas pass of every endpoint:
    lang filter (native column filter → Catalyst pushes it into the
    parquet scan) → (url, html|text) projection (column pruning reaches
    the scan) → per-worker model → ``emit(model, docs)`` per Arrow batch,
    where ``docs`` lazily yields (url, text) with html run through
    ``strip_html`` one document at a time.

    Input needs (url, html, lang) or (url, text, lang); ``model_bc`` is
    a ``spark.sparkContext.broadcast(SpotlightModel)``."""
    src = web_pages.filter(F.col("lang") == cfg.lang) if cfg.lang \
        else web_pages
    body = "html" if "html" in src.columns else "text"
    src = src.select("url", body)

    def run(batches):
        model = _get_model(model_bc)
        for pdf in batches:
            if len(pdf):
                texts = pdf[body].tolist()
                if body == "html":
                    texts = map(strip_html, texts)
                yield emit(model, zip(pdf["url"].tolist(), texts))

    return src.mapInPandas(run, schema=schema)


def annotate(spark: SparkSession, web_pages: DataFrame, model_bc,
             cfg: PipelineConfig | None = None) -> DataFrame:
    """/annotate (SURVEY §3.1): spot → score → F1–F3 filters."""
    cfg = cfg or PipelineConfig()
    return _map_docs(
        web_pages, model_bc, cfg, ANNOTATION_SCHEMA,
        lambda model, docs: _annotate_docs(model, cfg, docs, True))


def candidates(spark: SparkSession, web_pages: DataFrame, model_bc,
               cfg: PipelineConfig | None = None) -> DataFrame:
    """/candidates (SURVEY §3.2): bestK ranked, unfiltered."""
    cfg = cfg or PipelineConfig()
    return _map_docs(
        web_pages, model_bc, cfg, ANNOTATION_SCHEMA,
        lambda model, docs: _annotate_docs(model, cfg, docs, False))


def spot(spark: SparkSession, web_pages: DataFrame, model_bc,
         cfg: PipelineConfig | None = None) -> DataFrame:
    """/spot (SURVEY §2.12): stop after P1–P4."""
    cfg = cfg or PipelineConfig()

    def emit(model, docs):
        return pd.DataFrame(
            [(url, b, e, model.sf_names[sf_id], int(sf_id),
              float(model.sf_ann_prob[sf_id]))
             for url, text in docs
             for (b, e, sf_id, _p) in _doc_spots(model, text, cfg.spotter)[0]],
            columns=[f.name for f in SPOT_SCHEMA.fields])

    return _map_docs(web_pages, model_bc, cfg, SPOT_SCHEMA, emit)


NIL_SPOT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("begin", IntegerType()),
    StructField("end", IntegerType()),
    StructField("surface_form", StringType()),
    StructField("context", StringType()),
])


def nil_spots(spark: SparkSession, web_pages: DataFrame, model_bc,
              cfg: PipelineConfig | None = None,
              context_chars: int = 60) -> DataFrame:
    """The C3 complement: the mentions ``annotate`` DROPS — spots that
    pass the gate (P2) and overlap resolution (P4) but whose surface
    form has an EMPTY candidate list. In a real Spotlight model store
    these are lexicon surface forms whose pairCounts rows fell to the
    build's minimum-count pruning (M-stage), so the spotter knows the
    phrase but the disambiguator has nowhere to link it — the standard
    entity-discovery input (TAC-KBP). Each row carries the
    ±``context_chars`` window of extracted text around the spot, the
    exact input shape of :func:`operators.nilcluster.nil_clusters`.

    Plan shape matches ``spot``/``annotate`` (the shared ``_map_docs``
    pass): lang filter + 2-column projection pushed to the scan, ONE
    fused mapInPandas, 0 Exchange — the NIL extraction rides the same
    single pass over the corpus and at 10^12 docs adds no shuffle of
    its own."""
    cfg = cfg or PipelineConfig()

    def emit(model, docs):
        indptr = model.cand_indptr
        return pd.DataFrame(
            [(url, b, e, model.sf_names[sf_id],
              text[max(0, b - context_chars):e + context_chars])
             for url, text in docs
             for (b, e, sf_id, _p) in _doc_spots(model, text, cfg.spotter)[0]
             # linkable spots are annotate()'s business
             if indptr[sf_id + 1] <= indptr[sf_id]],
            columns=[f.name for f in NIL_SPOT_SCHEMA.fields])

    return _map_docs(web_pages, model_bc, cfg, NIL_SPOT_SCHEMA, emit)


def extract_text(web_pages: DataFrame) -> DataFrame:
    """S1 standalone: html → text pandas UDF (byte-identical gate)."""
    @F.pandas_udf(StringType())
    def strip_udf(html: pd.Series) -> pd.Series:
        return html.map(strip_html)

    return web_pages.withColumn("extracted_text", strip_udf(F.col("html")))


# ---------------------------------------------------------------------------
# Relational path (SURVEY §3.1 DAG with explicit explode/join/window) —
# prior-only disambiguation (D8), used to cross-check the fused path.
# ---------------------------------------------------------------------------

def annotate_relational_prior(
    spark: SparkSession,
    web_pages: DataFrame,
    model_bc,
    candidates_df: DataFrame,
    entities_df: DataFrame,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """spots → explode → broadcast join pair_counts → window argmax by
    prior → filters. Every dimension join is an explicit broadcast hash
    join (SURVEY §2.10); the only shuffle is the per-mention window.

    candidates_df: (sf_id, entity_id, prior) — prior = P(e|s)
    entities_df:   (entity_id, uri, support, types)
    """
    from pyspark.sql import Window

    cfg = cfg or PipelineConfig()
    spots_df = spot(spark, web_pages, model_bc, cfg)

    cand = F.broadcast(candidates_df.select("sf_id", "entity_id", "prior"))
    ent = F.broadcast(
        entities_df.select("entity_id", "uri", "support", "types")
    )
    w = Window.partitionBy("url", "begin").orderBy(
        F.desc("prior"), F.asc("entity_id")
    )
    joined = (
        spots_df.join(cand, "sf_id")
        .withColumn("rank", F.row_number().over(w))
        .withColumn("ln_score", F.log(F.greatest(F.col("prior"), F.lit(1e-300))))
        .withColumn(
            "sum_exp",
            F.sum(F.exp(F.col("ln_score") - F.max("ln_score").over(
                Window.partitionBy("url", "begin")))).over(
                Window.partitionBy("url", "begin")),
        )
        .withColumn(
            "similarity_score",
            F.exp(F.col("ln_score") - F.max("ln_score").over(
                Window.partitionBy("url", "begin"))) / F.col("sum_exp"),
        )
        .withColumn(
            "percentage_of_second_rank",
            F.coalesce(
                F.exp(F.lead("ln_score").over(w) - F.col("ln_score")), F.lit(0.0)
            ),
        )
        .filter(F.col("rank") <= cfg.k)
        .join(ent, "entity_id")
    )
    out = joined.filter(
        (F.col("similarity_score") >= cfg.confidence - 1e-12)
        & (F.col("percentage_of_second_rank") <= 1.0 - cfg.confidence + 1e-12)
        & (F.col("support") >= cfg.support)
    )
    return out.select(
        "url", "begin", "end", "surface_form", "uri", "rank",
        "similarity_score", "percentage_of_second_rank", "support", "types",
    )
