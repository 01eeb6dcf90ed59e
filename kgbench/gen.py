"""Seeded inputs for the three benchmark workloads.

Everything here is a pure function of (seed, sizes): the same seed gives
byte-identical parquet files. Inputs are written with pyarrow, so
generation needs no Spark session, and they are cached on disk under a
key of (workload, seed, sizes, source digest) so a repeated seed skips
it. The source digest covers this file and the program modules the
inputs come from (``datagen``, ``functions.extraction``), so a change to
either regenerates the inputs.

Shares and shapes follow the program's own generator where it has one
(``datagen.make_lexicon``: 2 single-word : 1 multi-word : 1 ambiguous
surface forms; ``datagen.make_corpus`` defaults for mentions and words
per paragraph). Where nothing gives a figure, the design is neutral:
equal shares per query shape and per recrawl capture kind, and one
fixed padded size for every page.

- ``make_lexicon``: a ``datagen.Lexicon`` in the table schema
  ``model.load_model`` reads. Its candidate map and
  context words are exposed lazily so ``datagen.make_corpus`` can plant
  golden mentions without materialising 10^6 Python lists.
- ``pad_pages``: grows each page's HTML with markup ``strip_html`` drops
  (scripts, styles, comments, attribute-heavy empty tags) to a fixed
  size, and checks ``strip_html(html) == text`` for every page.
- ``build_inputs`` / ``recrawl_inputs`` / ``query_inputs``: the per-
  workload input sets.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
from collections.abc import Mapping
from dataclasses import asdict, dataclass
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dbpedia_spotlight_spark import datagen
from dbpedia_spotlight_spark.datagen import DBPEDIA_PREFIX, Lexicon, make_corpus
from dbpedia_spotlight_spark.functions import extraction
from dbpedia_spotlight_spark.functions.extraction import strip_html

CACHE_KEEP = 6          # newest cached input sets kept per cache root
PROBE_FILES = 8         # probe pages split so local[n] can run them in parallel

# ontology classes the lexicon's entity types hang under (kg_query's
# property-path queries walk this tree)
CLASS_PARENT = {
    "Person": "Agent",
    "Organisation": "Agent",
    "Agent": "Thing",
    "Place": "Thing",
    "Work": "Thing",
    "Species": "Eukaryote",
    "Eukaryote": "Thing",
}


@dataclass(frozen=True)
class Sizes:
    n_sf: int = 4_000
    n_entities: int = 6_000
    ctx_pool: int = 40_000
    ctx_words: int = 32
    build_docs: int = 400
    store_docs: int = 600
    batch_captures: int = 30
    n_batches: int = 16
    query_docs: int = 2_000
    n_queries: int = 120
    probe_docs: int = 64
    html_kb: float = 24.0        # padded page size (a design size, not a measured one)
    files: int = 16              # parquet files per page set


SMALL = Sizes(n_sf=1_500, n_entities=2_400, ctx_pool=3_000, build_docs=120,
              store_docs=200, batch_captures=20, n_batches=4, query_docs=150,
              n_queries=24, probe_docs=24, html_kb=3.0, files=4)


# --------------------------------------------------------------------------
# lexicon
# --------------------------------------------------------------------------

class _Candidates(Mapping):
    """sf_id -> [(entity_id, prior)], prior-descending (CSR-backed)."""

    def __init__(self, indptr: np.ndarray, ent: np.ndarray, cnt: np.ndarray):
        self._indptr, self._ent, self._cnt = indptr, ent, cnt

    def __getitem__(self, sf_id: int) -> list[tuple[int, float]]:
        lo, hi = int(self._indptr[sf_id]), int(self._indptr[sf_id + 1])
        c = self._cnt[lo:hi]
        return list(zip(self._ent[lo:hi].tolist(), (c / c.sum()).tolist()))

    def __len__(self) -> int:
        return len(self._indptr) - 1

    def __iter__(self):
        return iter(range(len(self)))


class _ContextWords(Mapping):
    """entity_id -> its context words (make_corpus plants the first three)."""

    def __init__(self, ctx_idx: np.ndarray):
        self._idx = ctx_idx

    def __getitem__(self, e: int) -> list[str]:
        return [f"cw{k}" for k in self._idx[e].tolist()]

    def __len__(self) -> int:
        return len(self._idx)

    def __iter__(self):
        return iter(range(len(self)))


def make_lexicon(seed: int, n_sf: int, n_entities: int, ctx_pool: int,
                 ctx_words: int = 8) -> Lexicon:
    """A Spotlight lexicon with 25% three-way ambiguous, 25% multi-word
    and 50% single-word surface forms (the 10:10:20 of
    ``datagen.make_lexicon``), plus datagen's below-gate stopword-like
    ``zeta``. Entities are assigned in a random order so linked entities
    are spread over the context store."""
    rng = np.random.default_rng([seed, 1])
    n_amb = n_sf // 4
    n_multi = n_sf // 4
    n_single = n_sf - n_amb - n_multi - 1
    if n_single + n_multi + 3 * n_amb > n_entities:
        raise ValueError("n_entities too small for n_sf")
    n_heads = max(1, n_multi // 6)

    names = [f"sq{i}" for i in range(n_single)]
    names += [f"mh{i % n_heads} mt{i}" + (f" mx{i % 97}" if i % 3 == 0 else "")
              for i in range(n_multi)]
    names += [f"ag{i}" for i in range(n_amb)]
    names.append("zeta")

    perm = rng.permutation(n_entities).astype(np.int64)
    n_one = n_single + n_multi
    # candidate CSR: one candidate for single/multi, three for ambiguous,
    # one for zeta
    n_cand = np.concatenate([np.ones(n_one, np.int64),
                             np.full(n_amb, 3, np.int64), [1]])
    indptr = np.concatenate([[0], np.cumsum(n_cand)])
    cand_ent = np.concatenate([perm[:n_one + 3 * n_amb], perm[:1]])
    cand_cnt = np.concatenate([
        rng.integers(50, 501, n_one),
        np.tile([70, 25, 5], n_amb),
        [10],
    ]).astype(np.int64)
    sf_id = np.repeat(np.arange(n_sf, dtype=np.int64), n_cand)

    annotated = np.concatenate([np.full(n_single, 90), np.full(n_multi, 85),
                                np.full(n_amb, 80), [2]]).astype(np.int64)
    total = np.concatenate([np.full(n_sf - 1, 100), [1000]]).astype(np.int64)

    # vocabulary: filler + stopwords (small, summed like datagen) then the
    # context pool, then every surface-form token
    small: dict[str, int] = {}
    for w in datagen._FILLER:
        small[w] = small.get(w, 0) + 2000 + int(rng.integers(0, 501))
    for w in datagen._STOPWORDS:
        small[w] = small.get(w, 0) + 20000
    sf_tokens = sorted({t for n in names for t in n.split()})
    tokens = list(small) + [f"cw{k}" for k in range(ctx_pool)] + sf_tokens
    counts = np.concatenate([
        np.fromiter(small.values(), np.int64, len(small)),
        50 + rng.integers(0, 21, ctx_pool),
        np.full(len(sf_tokens), 300),
    ]).astype(np.int64)
    token_types = pd.DataFrame({"token": tokens,
                                "token_id": np.arange(len(tokens), dtype=np.int64),
                                "corpus_count": counts})
    ctx_base = len(small)
    filler_ids = np.array([list(small).index(w) for w in datagen._FILLER])

    ctx_idx = rng.integers(0, ctx_pool, size=(n_entities, ctx_words))
    fill = filler_ids[rng.integers(0, len(filler_ids), size=(n_entities, 4))]
    token_counts = (
        pd.DataFrame({
            "entity_id": np.concatenate([np.repeat(np.arange(n_entities), ctx_words),
                                         np.repeat(np.arange(n_entities), 4)]),
            "token_id": np.concatenate([ctx_base + ctx_idx.ravel(), fill.ravel()]),
            "count": np.concatenate([rng.integers(40, 81, n_entities * ctx_words),
                                     rng.integers(1, 4, n_entities * 4)]),
        })
        .groupby(["entity_id", "token_id"], as_index=False)["count"].sum()
    )

    types = np.array(datagen._TYPES)[rng.integers(0, len(datagen._TYPES), n_entities)]
    ent_uris = [f"{DBPEDIA_PREFIX}E{i}" for i in range(n_entities)]
    entities = pd.DataFrame({
        "uri": ent_uris,
        "entity_id": np.arange(n_entities, dtype=np.int32),
        "support": rng.integers(5, 5001, n_entities).astype(np.int64),
        "types": [[t] for t in types.tolist()],
    })
    redirects = pd.DataFrame(
        [(f"{DBPEDIA_PREFIX}Alias_A", f"{DBPEDIA_PREFIX}Alias_B"),
         (f"{DBPEDIA_PREFIX}Alias_B", ent_uris[0])],
        columns=["src_uri", "dst_uri"])
    return Lexicon(
        surface_forms=pd.DataFrame({
            "sf": names, "sf_id": np.arange(n_sf, dtype=np.int64),
            "annotated_count": annotated, "total_count": total}),
        entities=entities,
        pair_counts=pd.DataFrame({"sf_id": sf_id, "entity_id": cand_ent,
                                  "count": cand_cnt}),
        token_counts=token_counts,
        token_types=token_types,
        redirects=redirects,
        disambiguations=pd.DataFrame({"uri": [ent_uris[-1]]}),
        stopwords=pd.DataFrame({"token": datagen._STOPWORDS}),
        sf_candidates=_Candidates(indptr, cand_ent, cand_cnt),
        ent_context=_ContextWords(ctx_idx),
        sf_names=names,
        ent_uris=ent_uris,
    )


_LEXICON_TABLES = ("surface_forms", "entities", "pair_counts", "token_counts",
                   "token_types", "redirects", "disambiguations", "stopwords")


def write_lexicon(lex: Lexicon, out_dir: str) -> None:
    """The tables ``model.load_model`` reads, as ``<name>.parquet`` dirs."""
    schemas = {"entities": pa.schema([("uri", pa.string()),
                                      ("entity_id", pa.int32()),
                                      ("support", pa.int64()),
                                      ("types", pa.list_(pa.string()))])}
    for name in _LEXICON_TABLES:
        t = pa.Table.from_pandas(getattr(lex, name), schema=schemas.get(name),
                                 preserve_index=False)
        os.makedirs(f"{out_dir}/{name}.parquet", exist_ok=True)
        pq.write_table(t, f"{out_dir}/{name}.parquet/part-00000.parquet")


# --------------------------------------------------------------------------
# pages
# --------------------------------------------------------------------------

def _padding_pool(rng: np.random.Generator, n: int = 160) -> list[str]:
    """Markup fragments that carry no extracted text."""
    def r(k: int = 10**6) -> int:
        return int(rng.integers(0, k))

    out = []
    for i in range(n):
        kind = i % 7
        if kind == 0:
            body = ";".join(f"var v{r()}=function(x){{return x<{r(99)}?x*{r(9)}:x-{r(9)}}}"
                            for _ in range(4 + r(40)))
            out.append(f'<script type="text/javascript">{body}</script>')
        elif kind == 1:
            body = "".join(f".c{r()}{{color:#{r(0xffffff):06x};margin:{r(40)}px}}"
                           for _ in range(4 + r(40)))
            out.append(f"<style>{body}</style>")
        elif kind == 2:
            words = " ".join(datagen._FILLER[r(len(datagen._FILLER))]
                             for _ in range(5 + r(60)))
            out.append(f"<!-- {words} -->")
        elif kind == 3:
            out.append("".join(
                f'<div class="nav-{r()} col-{r(12)}" id="n{r()}" data-track="{r()}">'
                f'<span class="ico ico-{r(500)}"></span>'
                f'<img src="/i/{r()}.png" alt="" width="{r(300)}"></div>'
                for _ in range(2 + r(12))))
        elif kind == 4:
            out.append(f'<noscript><iframe src="https://t{r(50)}.example/{r()}" '
                       f'height="0" width="0"></iframe></noscript>')
        elif kind == 5:
            body = ",".join(f'"k{r()}":"{r()}"' for _ in range(4 + r(30)))
            out.append(f'<script type="application/ld+json">{{{body}}}</script>')
        else:
            out.append("".join(f'<svg viewBox="0 0 24 24"><path d="M{r(24)} {r(24)}'
                               f'L{r(24)} {r(24)}Z"/></svg>' for _ in range(2 + r(10))))
    return out


def pad_pages(pages: pd.DataFrame, seed: int, html_kb: float) -> pd.DataFrame:
    """Grow every page's HTML to about ``html_kb`` KiB with markup
    ``strip_html`` drops; raise if any page's extraction changes."""
    rng = np.random.default_rng([seed, 2])
    pool = _padding_pool(rng)
    sizes = np.array([len(f) for f in pool])
    out = []
    for html in pages["html"].tolist():
        h = html.decode("utf-8")
        k = max(1, int((html_kb * 1024 - len(h)) / sizes.mean()))
        picks = rng.integers(0, len(pool), k)
        parts = h.split("</p>")
        slots = len(parts)              # head + one slot after each </p>
        chunks = ["".join(pool[j] for j in picks[s::slots]) for s in range(slots)]
        head, *rest = parts
        head = head.replace('<meta charset="utf-8">',
                            '<meta charset="utf-8">' + chunks[0], 1)
        padded = head + "".join("</p>" + c + p for c, p in zip(chunks[1:], rest))
        out.append(padded.encode("utf-8"))
    padded_pages = pages.assign(html=out)
    for html, text, url in zip(out, pages["text"].tolist(), pages["url"].tolist()):
        if strip_html(html) != text:
            raise RuntimeError(f"padding changed the extracted text of {url}")
    return padded_pages


_PAGE_SCHEMA = pa.schema([("url", pa.string()),
                          ("warc_ts", pa.timestamp("us", tz="UTC")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())])


def write_pages(pages: pd.DataFrame, out_dir: str, files: int) -> None:
    """web_pages parquet (BASELINE input_hint schema) in ``files`` parts."""
    os.makedirs(out_dir, exist_ok=True)
    pages = pages.assign(warc_ts=pd.to_datetime(pages["warc_ts"]).dt.tz_localize("UTC"))
    for i, part in enumerate(np.array_split(np.arange(len(pages)), files)):
        if len(part):
            t = pa.Table.from_pandas(pages.iloc[part][_PAGE_SCHEMA.names],
                                     schema=_PAGE_SCHEMA, preserve_index=False)
            pq.write_table(t, f"{out_dir}/part-{i:05d}.parquet")


def probe_batch(pages: pd.DataFrame) -> pd.DataFrame:
    """A recrawl batch over ``pages`` (a store's content) in equal shares
    of changed captures (another page's content, newer ts), unchanged
    re-fetches (same content, newer ts), stale replays (another page's
    content, older ts) and new urls, so a fold of it into a store built
    from ``pages`` measures maintenance of an existing store."""
    n = len(pages) // 4
    half = len(pages) // 2
    day = pd.Timedelta(days=1)
    rows = []
    for j in range(4 * n):
        kind, src = j // n, (j + half) % len(pages)
        p, other = pages.iloc[j], pages.iloc[src]
        if kind == 0:
            rows.append((p.url, p.warc_ts + day, other))
        elif kind == 1:
            rows.append((p.url, p.warc_ts + day, p))
        elif kind == 2:
            rows.append((p.url, p.warc_ts - day, other))
        else:
            rows.append((f"https://probe.example/new/{j}", p.warc_ts + day, p))
    return pd.DataFrame({"url": [r[0] for r in rows], "warc_ts": [r[1] for r in rows],
                         "html": [r[2].html for r in rows],
                         "text": [r[2].text for r in rows],
                         "lang": [r[2].lang for r in rows]})


def _probe_sets(pages: pd.DataFrame, out: str, s: Sizes) -> None:
    probe = pages.iloc[:s.probe_docs]
    write_pages(probe, f"{out}/probe_pages", PROBE_FILES)
    write_pages(probe_batch(probe), f"{out}/probe_batch", 1)


# --------------------------------------------------------------------------
# per-workload input sets
# --------------------------------------------------------------------------

def build_inputs(out: str, seed: int, s: Sizes) -> None:
    lex = make_lexicon(seed, s.n_sf, s.n_entities, s.ctx_pool, s.ctx_words)
    write_lexicon(lex, f"{out}/lexicon")
    pages, golden = make_corpus(lex, n_docs=s.build_docs, seed=seed)
    pages = pad_pages(pages, seed, s.html_kb)
    write_pages(pages, f"{out}/pages", s.files)
    _probe_sets(pages, out, s)
    golden.to_parquet(f"{out}/golden.parquet", index=False)
    _write_json(f"{out}/meta.json", {
        "docs": len(pages), "html_bytes": int(pages["html"].map(len).sum())})


def recrawl_inputs(out: str, seed: int, s: Sizes) -> None:
    """A store corpus plus ``n_batches`` recrawl batches. Each batch mixes
    changed captures (new content, newer ts), new urls, unchanged
    re-fetches (same html, newer ts), stale replays (different content,
    ts older than the url's newest capture) and in-batch duplicates (two
    newer captures of one url, the later one wins). ``captures.parquet``
    maps every capture to its content id and kind; ``golden.parquet``
    holds the planted mentions per content id."""
    rng = np.random.default_rng([seed, 3])
    lex = make_lexicon(seed, s.n_sf, s.n_entities, s.ctx_pool, s.ctx_words)
    write_lexicon(lex, f"{out}/lexicon")
    B = s.batch_captures
    n_pool = s.n_batches * B
    docs, golden = make_corpus(lex, n_docs=s.store_docs + n_pool, seed=seed)
    docs = pad_pages(docs, seed, s.html_kb)
    # content id = row of ``docs``; golden re-keyed from url to content id
    cid_of_url = dict(zip(docs["url"], range(len(docs))))
    golden = golden.assign(content_id=golden["url"].map(cid_of_url)).drop(columns="url")
    golden.to_parquet(f"{out}/golden.parquet", index=False)

    store = docs.iloc[:s.store_docs].copy()
    write_pages(store, f"{out}/store_pages", s.files)
    write_pages(store.iloc[:s.probe_docs], f"{out}/probe_pages", PROBE_FILES)
    html, text, lang = docs["html"].tolist(), docs["text"].tolist(), docs["lang"].tolist()

    alive = store["url"].tolist()
    cur = {u: (ts, i) for i, (u, ts) in enumerate(zip(store["url"], store["warc_ts"]))}
    caps = [(u, ts, i, -1, "store") for u, (ts, i) in cur.items()]
    next_pool = s.store_docs
    next_url = s.store_docs
    clock = datetime(2024, 6, 1)
    # equal shares of the five kinds; a duplicate is a pair of captures
    n_kind = dict.fromkeys(("changed", "new", "unchanged", "stale"), B // 5)
    n_dup = (B - sum(n_kind.values())) // 2

    def pool_doc() -> int:
        nonlocal next_pool
        next_pool += 1
        return next_pool - 1

    os.makedirs(f"{out}/batches", exist_ok=True)
    for b in range(s.n_batches):
        rows = []
        picked = rng.choice(len(alive), n_kind["changed"] + n_kind["unchanged"]
                            + n_kind["stale"] + n_dup, replace=False)
        urls = [alive[j] for j in picked.tolist()]
        ch, rest = urls[:n_kind["changed"]], urls[n_kind["changed"]:]
        un, rest = rest[:n_kind["unchanged"]], rest[n_kind["unchanged"]:]
        st, dup = rest[:n_kind["stale"]], rest[n_kind["stale"]:]

        def tick() -> datetime:
            nonlocal clock
            clock += timedelta(seconds=int(rng.integers(1, 30)))
            return clock

        for u in ch:
            rows.append((u, tick(), pool_doc(), "changed"))
        for _ in range(n_kind["new"]):
            host = 0 if rng.random() < 0.2 else int(rng.integers(1, 51))
            u = f"https://host{host}.example/p/{next_url}"
            next_url += 1
            alive.append(u)
            rows.append((u, tick(), pool_doc(), "new"))
        for u in un:
            rows.append((u, tick(), cur[u][1], "unchanged"))
        for u in st:
            old = cur[u][0] - timedelta(minutes=int(rng.integers(1, 1000)))
            rows.append((u, old, pool_doc(), "stale"))
        for u in dup:
            rows.append((u, tick(), pool_doc(), "dup_old"))
            rows.append((u, tick(), pool_doc(), "dup_new"))
        order = rng.permutation(len(rows))
        rows = [rows[j] for j in order.tolist()]
        for u, ts, cid, kind in rows:
            caps.append((u, ts, cid, b, kind))
            if kind != "stale" and (u not in cur or ts > cur[u][0]):
                cur[u] = (ts, cid)
        cids = [r[2] for r in rows]
        batch = pd.DataFrame({"url": [r[0] for r in rows],
                              "warc_ts": [r[1] for r in rows],
                              "html": [html[c] for c in cids],
                              "text": [text[c] for c in cids],
                              "lang": [lang[c] for c in cids]})
        write_pages(batch, f"{out}/batches/b{b:04d}", 1)
    pd.DataFrame(caps, columns=["url", "warc_ts", "content_id", "batch", "kind"]) \
        .to_parquet(f"{out}/captures.parquet", index=False)
    _write_json(f"{out}/meta.json", {"store_docs": s.store_docs,
                                     "n_batches": s.n_batches})


def golden_kg(golden: pd.DataFrame, entities: pd.DataFrame) -> pd.DataFrame:
    """(subj, pred, obj) of the planted truth: mention, link and type
    triples plus the class tree — what ``triples.all_triples`` /
    ``type_triples`` emit for a perfect annotator."""
    subj = (golden["url"] + "#char=" + golden["begin"].astype(str) + ","
            + golden["end"].astype(str))
    typ = entities.set_index("uri")["types"]
    linked = pd.Series(golden["uri"].unique())
    types = linked.map(typ)
    parts = [
        pd.DataFrame({"subj": subj, "pred": "nif:anchorOf",
                      "obj": golden["surface_form"]}),
        pd.DataFrame({"subj": subj, "pred": "itsrdf:taIdentRef", "obj": golden["uri"]}),
        pd.DataFrame({"subj": linked, "pred": "rdf:type",
                      "obj": [t[0] for t in types]}),
        pd.DataFrame({"subj": list(CLASS_PARENT), "pred": "rdfs:subClassOf",
                      "obj": list(CLASS_PARENT.values())}),
    ]
    return pd.concat(parts, ignore_index=True).drop_duplicates(ignore_index=True)


# one cycle of the query mix, one query per shape; the loop runs whole cycles
SHAPE_CYCLE = ("lookup", "typed_bgp", "aggregate", "path")


def _ancestors(c: str) -> list[str]:
    out = [c]
    while out[-1] in CLASS_PARENT:
        out.append(CLASS_PARENT[out[-1]])
    return out


def make_queries(kg: pd.DataFrame, seed: int, n: int) -> list[dict]:
    """A seeded query mix over ``kg`` with answers computed in pandas.
    Shapes cycle in a fixed order so every run sees the same shape mix;
    the seed picks the constants."""
    rng = np.random.default_rng([seed, 4])
    anchor = kg[kg.pred == "nif:anchorOf"][["subj", "obj"]].rename(
        columns={"subj": "m", "obj": "sf"})
    link = kg[kg.pred == "itsrdf:taIdentRef"][["subj", "obj"]].rename(
        columns={"subj": "m", "obj": "e"})
    etype = kg[kg.pred == "rdf:type"][["subj", "obj"]].rename(
        columns={"subj": "e", "obj": "t"})
    ment = anchor.merge(link, on="m").merge(etype, on="e")
    classes = sorted(set(CLASS_PARENT) | set(CLASS_PARENT.values()))
    out = []
    for i in range(n):
        shape = SHAPE_CYCLE[i % len(SHAPE_CYCLE)]
        row = ment.iloc[int(rng.integers(0, len(ment)))]
        if shape == "lookup":
            e = row.e
            text = (f"SELECT ?m ?sf WHERE {{ ?m itsrdf:taIdentRef <{e}> . "
                    f"?m nif:anchorOf ?sf }}")
            ans = ment[ment.e == e][["m", "sf"]].values.tolist()
            ordered = False
        elif shape == "typed_bgp":
            sf = row.sf
            t = datagen._TYPES[int(rng.integers(0, len(datagen._TYPES)))] \
                if rng.random() < 0.5 else row.t
            text = (f'SELECT ?m ?e WHERE {{ ?m nif:anchorOf "{sf}" . '
                    f"?m itsrdf:taIdentRef ?e . ?e a {t} }}")
            ans = ment[(ment.sf == sf) & (ment.t == t)][["m", "e"]].values.tolist()
            ordered = False
        elif shape == "aggregate":
            t = datagen._TYPES[int(rng.integers(0, len(datagen._TYPES)))]
            text = (f"SELECT ?e (COUNT(?m) AS ?n) WHERE {{ ?m itsrdf:taIdentRef ?e . "
                    f"?e a {t} }} GROUP BY ?e ORDER BY DESC(?n) ?e LIMIT 10")
            g = ment[ment.t == t].groupby("e").size().reset_index(name="n")
            g = g.sort_values(["n", "e"], ascending=[False, True]).head(10)
            ans = [[e, int(k)] for e, k in zip(g.e, g.n)]
            ordered = True
        else:
            c = classes[int(rng.integers(0, len(classes)))]
            text = (f"SELECT (COUNT(?m) AS ?n) WHERE {{ "
                    f"?m itsrdf:taIdentRef/rdf:type/rdfs:subClassOf* {c} }}")
            ans = [[int(ment.t.map(lambda t: c in _ancestors(t)).sum())]]
            ordered = True
        out.append({"shape": shape, "text": text, "answer": ans, "ordered": ordered})
    return out


def query_inputs(out: str, seed: int, s: Sizes) -> None:
    lex = make_lexicon(seed, s.n_sf, s.n_entities, s.ctx_pool, s.ctx_words)
    write_lexicon(lex, f"{out}/lexicon")
    pages, golden = make_corpus(lex, n_docs=s.query_docs, seed=seed)
    _probe_sets(pad_pages(pages.iloc[:s.probe_docs], seed, s.html_kb), out, s)
    typ = lex.entities.set_index("uri")["types"]
    # annotation-shaped golden rows: what a perfect annotator would emit
    ann = golden.assign(rank=1, similarity_score=1.0, percentage_of_second_rank=0.0,
                        support=0, types=golden["uri"].map(typ))
    schema = pa.schema([("url", pa.string()), ("begin", pa.int32()),
                        ("end", pa.int32()), ("surface_form", pa.string()),
                        ("uri", pa.string()), ("rank", pa.int32()),
                        ("similarity_score", pa.float64()),
                        ("percentage_of_second_rank", pa.float64()),
                        ("support", pa.int64()), ("types", pa.list_(pa.string()))])
    pq.write_table(pa.Table.from_pandas(ann[schema.names], schema=schema,
                                        preserve_index=False),
                   f"{out}/golden_annotations.parquet")
    kg = golden_kg(golden, lex.entities)
    _write_json(f"{out}/queries.json", make_queries(kg, seed, s.n_queries))
    _write_json(f"{out}/meta.json", {"triples": len(kg)})


BUILDERS = {"kg_build": build_inputs, "kg_recrawl": recrawl_inputs,
            "kg_query": query_inputs}


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def source_digest() -> str:
    """Hash of the code the inputs come from: this generator and the
    program modules it calls."""
    h = hashlib.sha256()
    for path in (__file__, datagen.__file__, extraction.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def cache_key(workload: str, seed: int, sizes: Sizes) -> str:
    blob = json.dumps({"src": source_digest(), "w": workload, "seed": seed,
                       "sizes": asdict(sizes)}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:20]


def ensure_inputs(cache_root: str, workload: str, seed: int, sizes: Sizes) -> str:
    """Directory holding the workload's inputs for ``seed``; generated on
    first use, then reused. Older cache entries beyond CACHE_KEEP are
    removed."""
    d = os.path.join(cache_root, f"{workload}-{cache_key(workload, seed, sizes)}")
    if os.path.exists(f"{d}/_DONE"):
        os.utime(d)
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    BUILDERS[workload](tmp, seed, sizes)
    open(f"{tmp}/_DONE", "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    entries = sorted((e for e in os.scandir(cache_root)
                      if e.is_dir() and not e.name.endswith(".tmp")),
                     key=lambda e: e.stat().st_mtime, reverse=True)
    for e in entries[CACHE_KEEP:]:
        shutil.rmtree(e.path, ignore_errors=True)
    return d


if __name__ == "__main__":
    # python3 -m kgbench.gen <workload> <seed> <cache_root> <sizes-json>
    wl, sd, root, sz = sys.argv[1:5]
    print(ensure_inputs(root, wl, int(sd), Sizes(**json.loads(sz))))
