"""Input generator: same seed -> same bytes; padding never changes text."""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pytest

from kgbench import gen


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.BUILDERS))
def test_inputs_are_deterministic_per_seed(tmp_path, workload):
    a = gen.ensure_inputs(str(tmp_path / "a"), workload, 5, gen.SMALL)
    b = gen.ensure_inputs(str(tmp_path / "b"), workload, 5, gen.SMALL)
    c = gen.ensure_inputs(str(tmp_path / "c"), workload, 6, gen.SMALL)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_cache_reuses_inputs(tmp_path):
    a = gen.ensure_inputs(str(tmp_path), "kg_query", 5, gen.SMALL)
    stamp = os.path.getmtime(f"{a}/queries.json")
    assert gen.ensure_inputs(str(tmp_path), "kg_query", 5, gen.SMALL) == a
    assert os.path.getmtime(f"{a}/queries.json") == stamp


def test_lexicon_shape():
    lex = gen.make_lexicon(3, 1000, 1500, 2000, ctx_words=16)
    assert len(lex.surface_forms) == 1000
    assert lex.surface_forms["sf"].is_unique
    assert len(lex.entities) == 1500
    zeta = lex.surface_forms[lex.surface_forms["sf"] == "zeta"].iloc[0]
    assert zeta["annotated_count"] / zeta["total_count"] < 0.05   # below the spot gate
    amb = [k for k in range(len(lex.sf_names)) if len(lex.sf_candidates[k]) == 3]
    assert len(amb) == 250
    assert len(lex.ent_context[0]) == 16


def test_padding_keeps_text_and_grows_pages():
    lex = gen.make_lexicon(3, 1000, 1500, 2000)
    pages, _ = gen.make_corpus(lex, n_docs=20, seed=3)
    padded = gen.pad_pages(pages, 3, html_kb=8.0)
    assert padded["html"].map(len).median() > 2 * pages["html"].map(len).median()
    assert (padded["text"] == pages["text"]).all()


def test_padding_rejects_a_changed_text():
    lex = gen.make_lexicon(3, 1000, 1500, 2000)
    pages, _ = gen.make_corpus(lex, n_docs=5, seed=3)
    pages.loc[2, "text"] = pages.loc[2, "text"] + " planted"
    with pytest.raises(RuntimeError, match="extracted text"):
        gen.pad_pages(pages, 3, html_kb=4.0)


def test_query_answers_come_from_the_golden_kg():
    lex = gen.make_lexicon(3, 1000, 1500, 2000)
    _, golden = gen.make_corpus(lex, n_docs=60, seed=3)
    kg = gen.golden_kg(golden, lex.entities)
    qs = gen.make_queries(kg, 3, 20)
    assert qs == gen.make_queries(kg, 3, 20)
    assert {q["shape"] for q in qs} == {"lookup", "typed_bgp", "aggregate", "path"}
    look = next(q for q in qs if q["shape"] == "lookup")
    uri = look["text"].split("<")[1].split(">")[0]
    want = golden[golden["uri"] == uri]
    assert len(look["answer"]) == len(want) > 0
    thing = next((q for q in qs if q["shape"] == "path" and q["text"].endswith("Thing }")),
                 None)
    if thing is not None:                 # every mention's type descends from Thing
        assert thing["answer"] == [[len(golden)]]


def test_recrawl_stream_mixes_every_capture_kind(tmp_path):
    d = gen.ensure_inputs(str(tmp_path), "kg_recrawl", 5, gen.SMALL)
    caps = pd.read_parquet(f"{d}/captures.parquet")
    kinds = set(caps[caps["batch"] == 0]["kind"])
    assert kinds == {"changed", "new", "unchanged", "stale", "dup_old", "dup_new"}
    batch = pd.read_parquet(f"{d}/batches/b0000")
    assert len(batch) == gen.SMALL.batch_captures
    # stale replays are older than the url's newest earlier capture
    for _, r in caps[(caps["batch"] == 0) & (caps["kind"] == "stale")].iterrows():
        earlier = caps[(caps["url"] == r["url"]) & (caps["batch"] < 0)]
        assert r["warc_ts"] < earlier["warc_ts"].max()


def test_probe_batch_folds_equal_shares_into_the_probe_store():
    lex = gen.make_lexicon(3, 1000, 1500, 2000)
    pages, _ = gen.make_corpus(lex, n_docs=16, seed=3)
    batch = gen.probe_batch(pages)
    old = pages.set_index("url")
    known = batch[batch["url"].isin(old.index)]
    newer = known["warc_ts"].values > old.loc[known["url"], "warc_ts"].values
    same = known["html"].values == old.loc[known["url"], "html"].values
    assert len(batch) == 16
    assert (~batch["url"].isin(old.index)).sum() == 4                 # new urls
    assert (~newer).sum() == 4 and not (same & ~newer).any()          # stale replays
    assert (newer & same).sum() == 4 and (newer & ~same).sum() == 4   # unchanged, changed


def test_cache_key_covers_the_source(monkeypatch):
    key = gen.cache_key("kg_build", 5, gen.SMALL)
    monkeypatch.setattr(gen, "source_digest", lambda: "edited")
    assert gen.cache_key("kg_build", 5, gen.SMALL) != key
