"""The three workloads. Each is a closed loop with one caller: the next
operation starts when the previous one has finished.

A workload drives the program only through its public entry points and
exposes to the runner:

- ``uses_model``: whether set-up loads and broadcasts the annotator model;
- ``cycle``, ``min_ops``: the loop stops only after a whole number of
  ``cycle`` operations and at least ``min_ops``, so every run measures
  the same operation mix and enough samples for a median;
- ``setup(env, rep)``: workload set-up, timed as part of ``setup_s``;
- ``warm_up(env)``: untimed work that runs the loop's code paths once;
- ``shape(i)``: the kind of operation ``i`` is (a query shape on
  kg_query, the workload's name otherwise); ``op_cpu_s`` weighs every
  shape equally;
- ``op(env, i, traced)``: one operation, or None when inputs run out.
  Returns (items, check) where ``check()`` runs untimed and returns a
  list of failures. With ``traced`` the layers are run one after another,
  each materialized inside its own span, so a span's time is that
  layer's own work;
- ``finish(env)``: end-of-run checks, returning (failures, link P/R).
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.operators.sparql import sparql
from dbpedia_spotlight_spark.pipeline import annotate, extract_text, spot
from dbpedia_spotlight_spark.sources.catalog import ParquetCatalog
from dbpedia_spotlight_spark.streaming import kg_stream
from dbpedia_spotlight_spark.streaming.kg_stream import KGStore, apply_pages_batch
from dbpedia_spotlight_spark.triples import (
    PRED_IDENT, all_triples, triple_delta, triple_prf, type_triples)

from kgbench import checks
from kgbench.gen import CLASS_PARENT, SHAPE_CYCLE


class Env:
    """Per-run state shared by the runner and the workload."""

    def __init__(self, spark, bc, inputs: str, work: str, tracer, counters=None):
        self.spark, self.bc = spark, bc
        self.inputs, self.work = inputs, work
        self.tracer, self.counters = tracer, counters


def noop(df) -> None:
    """Run ``df`` to completion without keeping or writing its rows."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def gen_bytes(store: KGStore, prev_gen: int | None) -> int:
    """Bytes the store wrote for its newest generation: the ``gen-<n>``
    snapshot directory plus that generation's delta_log partition."""
    gen = store.latest_gen()
    if gen is None or gen == prev_gen:
        return 0
    return (dir_bytes(f"{store.root}/gen-{gen:05d}")
            + dir_bytes(f"{store.root}/delta_log/gen={gen}"))


def golden_links(spark, golden: pd.DataFrame):
    subj = (golden["url"] + "#char=" + golden["begin"].astype(str) + ","
            + golden["end"].astype(str))
    return spark.createDataFrame(
        pd.DataFrame({"subj": subj, "pred": PRED_IDENT, "obj": golden["uri"]}),
        "subj string, pred string, obj string")


def class_tree(spark):
    return spark.createDataFrame(
        [(c, "rdfs:subClassOf", p) for c, p in CLASS_PARENT.items()],
        "subj string, pred string, obj string")


class TracedKGStore(KGStore):
    """A KGStore whose ``advance`` is timed from the benchmark's side (a
    no-op span while tracing is off)."""

    tracer = None

    def advance(self, *args, **kwargs):
        with self.tracer.span("kg_stream.advance"):
            return super().advance(*args, **kwargs)


@contextmanager
def gate_counts(tr, span):
    """While tracing, record in ``span`` the captures that
    ``apply_pages_batch`` drops at its stale gate: the rows left after its
    newest-capture-per-url reduction minus the rows it passes to
    ``annotate``. Both calls are wrapped in the ``kg_stream`` module for
    the duration; each count runs eagerly in a ``kg_stream.count`` span,
    which ``run.per_layer`` takes out of the batch time."""
    if not tr.enabled:
        yield
        return
    real_latest, real_annotate = kg_stream.latest_capture, kg_stream.annotate

    def count(df) -> int:
        with tr.span("kg_stream.count"):
            return df.count()

    def latest(pages, *args, **kwargs):
        out = real_latest(pages, *args, **kwargs)
        span["attrs"]["newest"] = count(out)
        return out

    def annotate_counted(spark, pages, *args, **kwargs):
        span["attrs"]["stale_dropped"] = span["attrs"]["newest"] - count(pages)
        return real_annotate(spark, pages, *args, **kwargs)

    kg_stream.latest_capture, kg_stream.annotate = latest, annotate_counted
    try:
        yield
    finally:
        kg_stream.latest_capture, kg_stream.annotate = real_latest, real_annotate


def layered_build(env: Env, pages, cat: ParquetCatalog | None = None):
    """extract -> spot -> annotate -> triples [-> catalog write], each layer
    materialized in its own span. Returns the annotations checkpoint."""
    spark, bc, tr = env.spark, env.bc, env.tracer
    n_pages, html = pages.agg(F.count("*"), F.sum(F.length("html"))).first()
    with tr.span("extraction", pages=n_pages, mb=html / 2**20):
        noop(extract_text(pages).select("url", "extracted_text"))
    with tr.span("pipeline.spot") as s:
        s["attrs"]["spots"] = spot(spark, pages, bc).count()
    env.counters.mark()
    with tr.span("pipeline.annotate") as s:
        ann = annotate(spark, pages, bc).localCheckpoint(eager=True)
    s["attrs"]["skew"] = env.counters.task_skew()
    s["attrs"]["annotations"] = ann.count()
    with tr.span("triples.emit") as s:
        trip = all_triples(ann).localCheckpoint(eager=True)
    s["attrs"]["rows"] = trip.count()
    if cat is not None:
        with tr.span("catalog.write") as s:
            cat.write(trip, "kg")
        s["attrs"]["mb"] = dir_bytes(cat.path("kg")) / 2**20
    return ann


# --------------------------------------------------------------------------

class KGBuild:
    """Batch KG build from raw HTML: read web_pages parquet, annotate,
    emit all triples, write them through the catalog."""

    name, uses_model = "kg_build", True
    cycle, min_ops = 1, 3

    def __init__(self, inputs: str):
        self.inputs = inputs
        with open(f"{inputs}/meta.json") as f:
            self.docs = json.load(f)["docs"]

    def setup(self, env: Env, rep: int) -> None:
        self.cat = ParquetCatalog(f"{env.work}/build-catalog")

    def shape(self, i: int) -> str:
        return self.name

    def warm_up(self, env: Env) -> None:
        pages = env.spark.read.parquet(f"{self.inputs}/probe_pages")
        self.cat.write(all_triples(annotate(env.spark, pages, env.bc)), "warm-up")

    def op(self, env: Env, i: int, traced: bool):
        pages = env.spark.read.parquet(f"{self.inputs}/pages")
        if traced:
            layered_build(env, pages, self.cat)
        else:
            self.cat.write(all_triples(annotate(env.spark, pages, env.bc)), "kg")
        return self.docs, lambda: []

    def finish(self, env: Env):
        spark = env.spark
        golden = pd.read_parquet(f"{self.inputs}/golden.parquet")
        kg = self.cat.read(spark, "kg")
        prf = triple_prf(kg.filter(F.col("pred") == PRED_IDENT), golden_links(spark, golden))
        sample = (extract_text(spark.read.parquet(f"{self.inputs}/probe_pages"))
                  .select("url", "extracted_text", "text").collect())
        return checks.check_prf(prf) + checks.check_extraction(sample), prf


class KGRecrawl:
    """Incremental maintenance: a KGStore bootstrapped from the store
    corpus, then recrawl batches folded in through apply_pages_batch."""

    name, uses_model = "kg_recrawl", True
    cycle, min_ops = 1, 3

    def __init__(self, inputs: str):
        self.inputs = inputs
        caps = pd.read_parquet(f"{inputs}/captures.parquet")
        self.caps = caps
        self.n_batches = int(caps["batch"].max()) + 1

    def setup(self, env: Env, rep: int) -> None:
        root = f"{env.work}/store-{rep}"
        shutil.rmtree(root, ignore_errors=True)
        TracedKGStore.tracer = env.tracer
        self.store = TracedKGStore(env.spark, root)
        apply_pages_batch(env.spark, env.spark.read.parquet(f"{self.inputs}/store_pages"),
                          env.bc, self.store, batch_id=0)
        self.next_batch = 0
        self.applied: list[int] = []

    def shape(self, i: int) -> str:
        return self.name

    def warm_up(self, env: Env) -> None:
        pages = env.spark.read.parquet(f"{self.inputs}/probe_pages")
        noop(all_triples(annotate(env.spark, pages, env.bc)))

    def _kinds(self, b: int, kind: str) -> set[str]:
        c = self.caps
        return set(c.loc[(c["batch"] == b) & (c["kind"] == kind), "url"])

    def op(self, env: Env, i: int, traced: bool):
        b = self.next_batch
        if b >= self.n_batches:
            return None
        self.next_batch += 1
        spark, store, tr = env.spark, self.store, env.tracer
        path = f"{self.inputs}/batches/b{b:04d}"
        pages = spark.read.parquet(path)
        n_caps = int((self.caps["batch"] == b).sum())
        prev_gen = store.latest_gen()
        if traced:
            ann = layered_build(env, pages)
            with tr.span("triples.delta"):
                triple_delta(store.read(), all_triples(ann)).count()
        m: dict = {}
        with tr.span("kg_stream.batch", captures=n_caps) as s, gate_counts(tr, s):
            apply_pages_batch(spark, pages, env.bc, store, batch_id=b + 1, metrics=m)
        if traced:
            s["attrs"].update(change_rows=m["n_changes"], bytes=gen_bytes(store, prev_gen))
        self.applied.append(b)

        def check():
            gen = store.latest_gen()
            if gen == prev_gen:
                return checks.check_batch(set(), set(), set(), None)
            changed = {r.url for r in store.read_log(since_gen=prev_gen)
                       .select("url").distinct().collect()}
            return checks.check_batch(changed, self._kinds(b, "stale"),
                                      self._kinds(b, "unchanged"),
                                      store.verify_snapshot())
        return n_caps, check

    def finish(self, env: Env):
        spark = env.spark
        paths = [f"{self.inputs}/store_pages"] + [
            f"{self.inputs}/batches/b{b:04d}" for b in self.applied]
        pages = spark.read.parquet(*paths)
        newest = pages.groupBy("url").agg(F.max("warc_ts").alias("warc_ts"))
        latest = pages.join(newest, ["url", "warc_ts"], "left_semi")
        expected = all_triples(annotate(spark, latest, env.bc))
        missing, extra = checks.triple_set_diff(self.store.read(), expected)
        # planted truth for the newest capture of every url
        c = self.caps[self.caps["batch"].isin([-1] + self.applied)]
        c = c.loc[c.groupby("url")["warc_ts"].idxmax(), ["url", "content_id"]]
        golden = pd.read_parquet(f"{self.inputs}/golden.parquet").merge(c, on="content_id")
        links = self.store.read().filter(F.col("pred") == PRED_IDENT)
        prf = triple_prf(links, golden_links(spark, golden))
        return checks.check_store(missing, extra) + checks.check_prf(prf), prf


class KGQuery:
    """SPARQL reads over a KG materialized as parquet from the planted
    golden annotations. No annotate step runs, so set-up loads no model."""

    name, uses_model = "kg_query", False
    # three cycles at least, so each shape's median has three samples
    cycle = len(SHAPE_CYCLE)
    min_ops = 3 * cycle

    def __init__(self, inputs: str):
        self.inputs = inputs
        with open(f"{inputs}/queries.json") as f:
            self.queries = json.load(f)

    def setup(self, env: Env, rep: int) -> None:
        spark = env.spark
        ann = spark.read.parquet(f"{self.inputs}/golden_annotations.parquet")
        kg = (all_triples(ann).select("subj", "pred", "obj")
              .unionByName(type_triples(ann)).unionByName(class_tree(spark)))
        self.cat = ParquetCatalog(f"{env.work}/query-catalog")
        self.cat.write(kg, "kg")
        self.kg = self.cat.read(spark, "kg")

    def shape(self, i: int) -> str:
        return self.queries[i % len(self.queries)]["shape"]

    def warm_up(self, env: Env) -> None:
        """As many cycles of the mix as the loop's minimum (each shape plans
        and compiles its own Spark jobs, and a shape's CPU per query kept
        falling over its first three runs), taken from the end of the query
        list so the loop's own queries stay cold in any cache the program
        might keep."""
        for q in self.queries[-self.min_ops:]:
            sparql(self.kg, q["text"]).collect()

    def op(self, env: Env, i: int, traced: bool):
        q = self.queries[i % len(self.queries)]
        tr = env.tracer
        with tr.span("sparql.plan"):
            df = sparql(self.kg, q["text"])
        with tr.span(f"sparql.exec.{q['shape']}") as s:
            rows = df.collect()
        if traced:
            s["attrs"]["rows"] = len(rows)
        return 1, lambda: checks.check_answer(rows, q["answer"], q["ordered"])

    def finish(self, env: Env):
        golden = pd.read_parquet(f"{self.inputs}/golden_annotations.parquet")
        want = set(zip(golden["url"] + "#char=" + golden["begin"].astype(str) + ","
                       + golden["end"].astype(str), golden["uri"]))
        kg = pd.read_parquet(self.cat.path("kg"), filters=[("pred", "==", PRED_IDENT)])
        prf = checks.link_prf(set(zip(kg["subj"], kg["obj"])), want)
        return checks.check_prf(prf), prf


WORKLOADS = {w.name: w for w in (KGBuild, KGRecrawl, KGQuery)}


# --------------------------------------------------------------------------
# probe: one materialized call into every layer on the probe pages, so a
# traced run measures every layer, including those its own loop never calls
# --------------------------------------------------------------------------

_LAYERED = {"extraction", "pipeline.spot", "pipeline.annotate", "triples.emit",
            "catalog.write"}


def probe(env: Env, covered: set[str]) -> None:
    """Run each layer whose span name is not in ``covered`` (the layers the
    workload's own traced operations already measured) on the inputs'
    probe pages. The store layer is measured folding the probe batch into
    a store bootstrapped, untraced, from the probe pages."""
    spark, tr = env.spark, env.tracer
    pages = spark.read.parquet(f"{env.inputs}/probe_pages")
    cat = ParquetCatalog(f"{env.work}/probe-catalog")
    with tr.span("probe"):
        if _LAYERED <= covered:
            ann = annotate(spark, pages, env.bc).localCheckpoint(eager=True)
        else:
            # warm the pandas-UDF paths on a few pages first: on kg_query
            # this is the session's first annotate
            few = pages.limit(8)
            with tr.span("probe.warm-up"):
                noop(extract_text(few))
                noop(spot(spark, few, env.bc))
                noop(annotate(spark, few, env.bc))
            ann = layered_build(env, pages, cat)
        if "triples.delta" not in covered:
            old = all_triples(ann.sample(fraction=0.5, seed=1))
            with tr.span("triples.delta"):
                triple_delta(old, all_triples(ann)).count()
        if "kg_stream.batch" not in covered:
            root = f"{env.work}/probe-store"
            shutil.rmtree(root, ignore_errors=True)
            TracedKGStore.tracer = tr
            store = TracedKGStore(spark, root)
            tr.enabled = False
            apply_pages_batch(spark, pages, env.bc, store, batch_id=0)
            tr.enabled = True
            batch = spark.read.parquet(f"{env.inputs}/probe_batch")
            prev_gen, m = store.latest_gen(), {}
            with tr.span("kg_stream.batch") as s, gate_counts(tr, s):
                apply_pages_batch(spark, batch, env.bc, store, batch_id=1, metrics=m)
            s["attrs"].update(change_rows=m["n_changes"], bytes=gen_bytes(store, prev_gen))
        if "sparql.plan" not in covered:
            _probe_queries(env, ann, cat)


def _probe_queries(env: Env, ann, cat: ParquetCatalog) -> None:
    """One query of each shape over a KG built from the probe annotations."""
    spark, tr = env.spark, env.tracer
    kg = (all_triples(ann).select("subj", "pred", "obj")
          .unionByName(type_triples(ann)).unionByName(class_tree(spark)))
    cat.write(kg, "query-kg")
    kg = cat.read(spark, "query-kg")
    r = ann.select("uri", "surface_form", F.element_at("types", 1).alias("t")).first()
    for shape, text in (
        ("lookup", f"SELECT ?m ?sf WHERE {{ ?m itsrdf:taIdentRef <{r.uri}> . "
                   f"?m nif:anchorOf ?sf }}"),
        ("typed_bgp", f'SELECT ?m ?e WHERE {{ ?m nif:anchorOf "{r.surface_form}" . '
                      f"?m itsrdf:taIdentRef ?e . ?e a {r.t} }}"),
        ("aggregate", f"SELECT ?e (COUNT(?m) AS ?n) WHERE {{ ?m itsrdf:taIdentRef ?e . "
                      f"?e a {r.t} }} GROUP BY ?e ORDER BY DESC(?n) ?e LIMIT 10"),
        ("path", "SELECT (COUNT(?m) AS ?n) WHERE { "
                 "?m itsrdf:taIdentRef/rdf:type/rdfs:subClassOf* Thing }"),
    ):
        with tr.span("sparql.plan"):
            df = sparql(kg, text)
        with tr.span(f"sparql.exec.{shape}") as s:
            s["attrs"]["rows"] = len(df.collect())
