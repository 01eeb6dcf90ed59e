"""Contention-independent perf regression gate over the headline suite.

Wall-clock on this box swings ±2× with external load (measured across
rounds), so the regression signal here is everything wall-clock is NOT:

- **plan shape** — the number of shuffle Exchanges and broadcast
  Exchanges in each headline query's physical plan, compared EXACTLY
  against the committed ``tests/plan_expectations.json``. A new shuffle
  in a plan is the thing that becomes the bottleneck at 100 TB, and it
  appears here the moment a code edit introduces it, regardless of how
  loaded the box is;
- **measured shuffle-write bytes** — per query, after actually running
  it at sf0.001, bounded by the committed value ×1.5 + 0.5 MB slack
  (parquet/compression jitter); a query whose shuffle VOLUME grows
  (wider rows through an exchange, a lost broadcast) fails even if its
  Exchange count is unchanged;
- **zero disk spill** — at this scale any spill is pathological.

Regenerate the expectations (after an INTENTIONAL plan change) with:

    python tests/test_plan_regression.py

which rewrites ``plan_expectations.json`` using the same session
configuration pytest uses (local[4], shuffle.partitions=8, AQE on).
Exchange counts are taken from the pre-execution plan string — with AQE
the runtime may still convert a shuffle to broadcast, but the
pre-execution shape is deterministic for a fixed sf and config, which
is what a round-over-round gate needs.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

# script-mode regen runs with sys.path[0]=tests/: pin the repo root so
# the package imports without installation
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

EXPECT_PATH = Path(__file__).parent / "plan_expectations.json"
SF_DIR = os.environ.get("PLAN_GATE_SF_DIR", "/root/testdata/sf0.001")

# the gated queries: the flagship fused annotate path (shuffle-free) plus
# the KG, dedup, retrieval, LM and graph plans whose shape must not drift
HEADLINE = [
    "annotate_generative", "spot_fsa", "annotate_prior", "link_triples",
    "minhash_pairs", "simhash_near_pairs", "jaccard_pairs", "ann_topk",
    "ann_ivf", "near_dup_embeddings", "annotate_stemmed", "lang_id",
    "quality", "tpch_q5", "events_hourly", "bgp_typed_mentions",
    "decontam_overlap", "ngram_perplexity", "entity_provenance",
    "dup_span_stats", "dsir_select", "mention_relations",
    "link_prediction", "entity_walks", "type_prediction", "kg_transe",
    "node2vec", "hyperball", "betweenness", "k_truss", "coreness",
]


def _headline_queries():
    from dbpedia_spotlight_spark import queries as Q

    qs = dict(Q.queries())
    qs.setdefault("tpch_q5", Q.q_tpch_q5)
    qs.setdefault("bgp_typed_mentions", Q.q_bgp_typed_mentions)
    qs.setdefault("events_hourly", Q.q_events_hourly)
    qs.setdefault("jaccard_pairs", Q.q_jaccard_pairs)
    qs.setdefault("entity_provenance", Q.q_entity_provenance)
    qs.setdefault("annotate_stemmed", Q.q_annotate_stemmed)
    qs.setdefault("quality", Q.q_quality)
    qs.setdefault("entity_walks", Q.q_entity_walks)
    qs.setdefault("annotate_prior", Q.q_annotate_prior)
    qs.setdefault("minhash_pairs", Q.q_minhash_pairs)
    qs.setdefault("lang_id", Q.q_lang_id)
    qs.setdefault("ann_topk", Q.q_ann_topk)
    return [(name, qs[name]) for name in HEADLINE]


def _exchange_counts(plan: str) -> dict[str, int]:
    """Shuffle vs broadcast Exchange node counts in a plan tree string.
    ReusedExchange lines repeat the referenced child's description, so
    they are stripped first — a reused shuffle costs nothing extra."""
    txt = "\n".join(l for l in plan.splitlines()
                    if "ReusedExchange" not in l)
    shuffle = sum(txt.count(p) for p in (
        "Exchange hashpartitioning", "Exchange rangepartitioning",
        "Exchange SinglePartition"))
    return {"shuffle_exchanges": shuffle,
            "broadcast_exchanges": txt.count("BroadcastExchange")}


def _shuffle_totals(spark) -> tuple[int, int]:
    """(shuffle-write, disk-spill) bytes summed over every stage in the
    app status store (public API, no listener of our own)."""
    jvm = spark._jvm
    sc = spark._jsc.sc()
    # the status store is fed asynchronously from the listener bus —
    # drain it first so a just-finished action's task-end events are
    # included in THIS reading
    sc.listenerBus().waitUntilEmpty(10_000)
    stages = sc.statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        spark.sparkContext._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList())
    write = spill = 0
    it = stages.iterator()
    while it.hasNext():
        st = it.next()
        write += st.shuffleWriteBytes()
        spill += st.diskBytesSpilled()
    return write, spill


def _measure(spark, fn) -> dict:
    """Plan-shape counts + measured shuffle/spill bytes for one query."""
    df = fn(spark, SF_DIR)
    counts = _exchange_counts(
        df._jdf.queryExecution().executedPlan().toString())
    w0, s0 = _shuffle_totals(spark)
    # the noop sink produces every output column (count() would let
    # Catalyst prune unreferenced expressions)
    df.write.format("noop").mode("overwrite").save()
    w1, s1 = _shuffle_totals(spark)
    mb = 1.0 / (1 << 20)
    counts["shuffle_write_mb"] = round((w1 - w0) * mb, 3)
    counts["disk_spill_mb"] = round((s1 - s0) * mb, 3)
    return counts


@pytest.fixture(scope="module")
def expectations():
    assert EXPECT_PATH.exists(), (
        "committed expectations missing — regenerate with "
        "`python tests/test_plan_regression.py`")
    return json.loads(EXPECT_PATH.read_text())


@pytest.mark.parametrize("name,fn", _headline_queries())
def test_headline_plan_shape_and_shuffle_volume(
        spark, expectations, name, fn):
    exp = expectations.get(name)
    assert exp is not None, (
        f"{name} joined HEADLINE without a committed expectation — "
        "regenerate plan_expectations.json")
    got = _measure(spark, fn)
    assert got["shuffle_exchanges"] == exp["shuffle_exchanges"], (
        f"{name}: shuffle Exchange count changed "
        f"{exp['shuffle_exchanges']} → {got['shuffle_exchanges']} — "
        "a new shuffle entered (or left) this plan; if intentional, "
        "regenerate plan_expectations.json and say why in the commit")
    assert got["broadcast_exchanges"] == exp["broadcast_exchanges"], (
        f"{name}: broadcast Exchange count changed "
        f"{exp['broadcast_exchanges']} → {got['broadcast_exchanges']}")
    ceiling = exp["shuffle_write_mb"] * 1.5 + 0.5
    assert got["shuffle_write_mb"] <= ceiling, (
        f"{name}: shuffle write grew {exp['shuffle_write_mb']} → "
        f"{got['shuffle_write_mb']} MB (ceiling {ceiling:.3f}) — "
        "wider rows through an exchange or a lost broadcast")
    assert got["disk_spill_mb"] == 0.0, (
        f"{name}: spilled {got['disk_spill_mb']} MB at sf0.001")


def _regen() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("plan-expectations-regen")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    out = {}
    for name, fn in _headline_queries():
        out[name] = _measure(spark, fn)
        print(name, out[name], flush=True)
    EXPECT_PATH.write_text(json.dumps(out, indent=1, sort_keys=True)
                           + "\n")
    print(f"wrote {EXPECT_PATH}")
    spark.stop()


if __name__ == "__main__":
    _regen()
