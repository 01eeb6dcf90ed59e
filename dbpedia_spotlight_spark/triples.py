"""Triple emission + lineage (SURVEY.md §2.8 E1–E3).

Reference behavior: the NIF/RDF output serializer (rest/.../output/ [U])
emits per-occurrence anchors and entity links. The rebuild materializes
them as a triples table (BASELINE.json north_star):

    subj = '<url>#char=<begin>,<end>'   (NIF-style fragment)
    pred = 'nif:anchorOf'       obj = surface form      (E1 mention triple)
    pred = 'itsrdf:taIdentRef'  obj = DBpedia URI       (E2 link triple)

plus score, per-partition lineage (E3). Written via the catalog
abstraction in ``dbpedia_spotlight_spark.sources.catalog`` (Iceberg when a
catalog is configured; partitioned Parquet + manifest fallback — no
Iceberg jar in this sandbox, SURVEY §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PRED_ANCHOR = "nif:anchorOf"
PRED_IDENT = "itsrdf:taIdentRef"


def subj_col() -> F.Column:
    return F.concat_ws(
        "", F.col("url"), F.lit("#char="), F.col("begin"), F.lit(","), F.col("end")
    ).alias("subj")


def mention_triples(annotations: DataFrame) -> DataFrame:
    """E1: (subj, nif:anchorOf, surface_form)."""
    return annotations.select(
        subj_col(),
        F.lit(PRED_ANCHOR).alias("pred"),
        F.col("surface_form").alias("obj"),
        F.col("similarity_score").alias("score"),
    ).dropDuplicates(["subj", "pred", "obj"])


def link_triples(annotations: DataFrame) -> DataFrame:
    """E2: (subj, itsrdf:taIdentRef, uri) — the P/R-graded set."""
    return annotations.select(
        subj_col(),
        F.lit(PRED_IDENT).alias("pred"),
        F.col("uri").alias("obj"),
        F.col("similarity_score").alias("score"),
    ).dropDuplicates(["subj", "pred", "obj"])


def all_triples(annotations: DataFrame) -> DataFrame:
    """E1 ∪ E2 with lineage columns (E3): partition id + stage tag.

    ONE pass over the annotation stream: each row explodes into its
    mention + link triple (a union of the two E1/E2 branches would
    re-execute the whole upstream annotate pipeline per branch — 2× the
    work at any scale; same plan shape as the contract query).

    ``part_id`` is the *source* partition (spark_partition_id at emission),
    recorded so a resumed run can skip completed partitions
    (SURVEY §4 checkpoint/resume)."""
    po = F.explode(F.array(
        F.struct(F.lit(PRED_ANCHOR).alias("pred"),
                 F.col("surface_form").alias("obj")),
        F.struct(F.lit(PRED_IDENT).alias("pred"),
                 F.col("uri").alias("obj")),
    )).alias("po")
    t = (
        annotations.select(subj_col(), po,
                           F.col("similarity_score").alias("score"))
        .select("subj", F.col("po.pred").alias("pred"),
                F.col("po.obj").alias("obj"), "score")
        .dropDuplicates(["subj", "pred", "obj"])
    )
    return t.withColumn("part_id", F.spark_partition_id()).withColumn(
        "lineage",
        F.struct(
            F.lit("annotate").alias("stage"),
            F.current_timestamp().alias("emitted_at"),
        ),
    )


def provenance_url(triples: DataFrame) -> DataFrame:
    """Recover the provenance ``url`` from the NIF subj fragment
    ('<url>#char=b,e' — the inverse of ``subj_col``). Pure column
    expression; the KG-maintenance ops below key on it."""
    return triples.withColumn(
        "url", F.substring_index(F.col("subj"), "#char=", 1))


def as_quads(triples: DataFrame, graph: str | F.Column | None = None
             ) -> DataFrame:
    """(subj, pred, obj, graph) quad view of a triple frame — SPARQL
    named-graph provenance. ``graph`` is a column name or Column
    expression; by default the graph is the asserting page, recovered
    from the NIF subj fragment like :func:`provenance_url` (the
    natural provenance unit of this pipeline: every emitted statement
    derives from exactly one crawled capture). A quad store is what
    ``bgp_match`` 4-element patterns and the text front-end's
    ``GRAPH ?g { … }`` clause query; it is a pure projection — no
    shuffle, no schema migration of the existing triple stores."""
    if graph is None:
        g = F.substring_index(F.col("subj"), "#char=", 1)
    elif isinstance(graph, str):
        g = F.col(graph)
    else:
        g = graph
    return triples.select("subj", "pred", "obj", g.alias("graph"))


def triple_delta(old: DataFrame, new: DataFrame,
                 recrawled: DataFrame | None = None) -> DataFrame:
    """Incremental KG maintenance across crawl snapshots (north_rule:
    resumable construction; input_hint recrawl shape).

    A recrawl covers a *subset* of urls: ``recrawled`` (a frame with a
    ``url`` column; default: the urls of ``new``). For every recrawled
    url, its triple set REPLACES the old one — a url whose new capture
    yields no triples (it turned non-English, lost its mentions) loses
    its old ones, which only an explicit ``recrawled`` can express;
    urls the recrawl did not touch are untouched (not "removed" —
    absence of a capture is not absence of the page). Returns the
    change log
    (url, subj, pred, obj, change∈{added, removed}) such that
    ``apply_delta(old, delta) ≡ old⧸recrawled ∪ new`` (pytest-pinned).

    Inputs are triple *sets* (subj, pred, obj [, score…]); duplicate
    rows are collapsed (``dropDuplicates`` on the key) so the change
    log is itself a set.

    Scale: both anti-joins shuffle on the (url, subj, pred, obj) key —
    partition count = triple cardinality, no url-level skew amplification
    (a mega-host's triples spread over the full key space). The
    recrawled-url semi-join broadcasts when the recrawl is small; at
    full-crawl size AQE picks the shuffle form. No step is quadratic.
    """
    key = ["url", "subj", "pred", "obj"]
    o = provenance_url(old.select("subj", "pred", "obj")).dropDuplicates(key)
    n = provenance_url(new.select("subj", "pred", "obj")).dropDuplicates(key)
    recrawled = (n if recrawled is None else recrawled).select(
        "url").distinct()
    removed = (
        o.join(recrawled, "url", "left_semi")
        .join(n, key, "left_anti")
        .withColumn("change", F.lit("removed"))
    )
    added = n.join(o, key, "left_anti").withColumn("change", F.lit("added"))
    return added.unionByName(removed).select(*key, "change")


def apply_delta(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Apply a ``triple_delta`` change log to a materialized KG snapshot:
    drop the 'removed' rows, append the 'added' rows. Anti-join on the
    full key + union — one shuffle family, merge-on-read friendly (the
    Iceberg form of this is a MERGE; the catalog fallback rewrites)."""
    key = ["url", "subj", "pred", "obj"]
    b = provenance_url(base.select("subj", "pred", "obj")).dropDuplicates(key)
    removed = delta.filter(F.col("change") == "removed").select(*key)
    added = delta.filter(F.col("change") == "added").select(*key)
    return b.join(removed, key, "left_anti").unionByName(added)


def fact_intervals(log: DataFrame, gen_col: str = "gen") -> DataFrame:
    """Temporal fact versioning: fold a KG change log — the
    accumulated ``triple_delta`` batches a ``KGStore`` appends to its
    ``delta_log`` (url, subj, pred, obj, change∈{added, removed},
    gen) — into validity INTERVALS

        (url, subj, pred, obj, valid_from, valid_to)

    one row per assertion episode: ``valid_from`` = the generation
    that added the fact, ``valid_to`` = the generation that removed it
    (exclusive), NULL while still live. A fact removed and re-added
    yields one row per episode — the bitemporal-lite view that turns
    the audit log into an analyzable relation ("how long do facts
    about this host survive a recrawl", "which triples flapped").

    Rests on the same two invariants as ``KGStore.read_asof``
    (pytest-pinned there): per-gen deltas are set-diffs on the full
    fact key, so one fact's events strictly alternate added/removed
    starting with 'added' — which makes ``lead(gen)`` over the fact's
    event sequence exactly the episode close.

    Scale: ONE window partitioned by the full fact key (per-partition
    group = that fact's change events — bounded by the fact's flap
    count, never url- or host-sized, so mega-host recrawl skew spreads
    over the key space), then a pushed filter to the 'added' rows. No
    UDFs, no global sort."""
    key = ["url", "subj", "pred", "obj"]
    from pyspark.sql import Window
    w = Window.partitionBy(*key).orderBy(F.col("_g").asc())
    return (log.select(*key, "change", F.col(gen_col).cast("long")
                       .alias("_g"))
            .withColumn("_next", F.lead("_g").over(w))
            .filter(F.col("change") == "added")
            .select(*key, F.col("_g").alias("valid_from"),
                    F.col("_next").alias("valid_to")))


def facts_asof(log: DataFrame, gen: int, gen_col: str = "gen") -> DataFrame:
    """Log-only time travel: the triple set live as of generation
    ``gen``, reconstructed purely from the change log (no snapshot
    needed — the interval twin of ``KGStore.read_asof``, which starts
    from the CURRENT snapshot and reverses; this form is the one to
    use over an archived/exported delta_log where no snapshot exists).
    ``fact_intervals`` filtered to intervals covering ``gen``; same
    single-window cost. Equivalence to ``read_asof`` across a real
    multi-batch store drive is pytest-pinned."""
    iv = fact_intervals(log, gen_col=gen_col)
    return (iv.filter((F.col("valid_from") <= gen)
                      & (F.col("valid_to").isNull()
                         | (F.col("valid_to") > gen)))
            .select("url", "subj", "pred", "obj"))


# exclusive-end sentinel for still-live episodes (valid_to NULL):
# larger than any real generation, small enough for exact long math
_GEN_INF = 1 << 62


def allen_relations(intervals: DataFrame,
                    key: tuple[str, ...] = ("subj", "pred"),
                    max_group: int = 64) -> DataFrame:
    """Allen's interval algebra over fact-validity episodes: for every
    pair of episodes sharing ``key``, the canonical Allen relation
    between their half-open [valid_from, valid_to) intervals —
    ``before | meets | overlaps | starts | contains | finished_by |
    equals`` (the 7 canonical forms; the 6 inverses never occur
    because pairs are emitted in sorted order). NULL ``valid_to``
    (still live) acts as +∞, so two live episodes that started apart
    are ``finished_by`` (they end together at the horizon) — the
    convention is part of the contract.

    The temporal-QA read path over ``fact_intervals``: succession
    chains (``meets``), belief conflicts (co-valid different values —
    see :func:`fact_conflicts`), flapping audits.

    Scale: ONE groupBy on ``key`` + in-array pair expansion (the
    ``er_candidates`` block pattern — no self-join, the episode list
    shuffles once). Groups larger than ``max_group`` are dropped WHOLE
    (a key with hundreds of episodes is a flapping defect to audit
    upstream, and keeping it would make output depend on a cap order);
    C(max_group, 2) bounds the per-group pair fan-out."""
    kc = list(key)
    ep = F.struct(
        F.col("valid_from").alias("f"),
        F.coalesce(F.col("valid_to"), F.lit(_GEN_INF)).alias("t"),
        F.col("url").alias("url"), F.col("obj").alias("obj"))
    blocks = (intervals.groupBy(*kc)
              .agg(F.sort_array(F.collect_list(ep)).alias("ids"))
              .filter((F.size("ids") >= 2)
                      & (F.size("ids") <= max_group)))
    n = F.size("ids")
    pairs = F.flatten(F.transform(
        F.col("ids"),
        lambda x, i: F.transform(
            F.slice(F.col("ids"), i + 2, n - i - 1),
            lambda y: F.struct(x.alias("a"), y.alias("b")),
        ),
    ))
    p = blocks.select(*kc, F.explode(pairs).alias("p"))
    fa, ta = F.col("p.a.f"), F.col("p.a.t")
    fb, tb = F.col("p.b.f"), F.col("p.b.t")
    rel = (F.when(ta < fb, "before")
           .when(ta == fb, "meets")
           .when((fa == fb) & (ta == tb), "equals")
           .when(fa == fb, "starts")
           .when(tb == ta, "finished_by")
           .when(tb < ta, "contains")
           .otherwise("overlaps"))
    unsent = lambda c: F.when(c != _GEN_INF, c)  # noqa: E731
    return p.select(
        *kc,
        F.col("p.a.url").alias("url_a"), F.col("p.a.obj").alias("obj_a"),
        F.col("p.a.f").alias("from_a"), unsent(ta).alias("to_a"),
        F.col("p.b.url").alias("url_b"), F.col("p.b.obj").alias("obj_b"),
        F.col("p.b.f").alias("from_b"), unsent(tb).alias("to_b"),
        rel.alias("relation"))


def fact_conflicts(intervals: DataFrame,
                   key: tuple[str, ...] = ("subj", "pred"),
                   max_group: int = 64) -> DataFrame:
    """Co-valid contradictions: episode pairs under ``key`` whose
    intervals share at least one generation (every Allen relation
    except ``before``/``meets``) while asserting DIFFERENT objects —
    "two values simultaneously believed", the temporal complement of
    ``functional_violations`` (which sees only the current snapshot)."""
    ar = allen_relations(intervals, key=key, max_group=max_group)
    return ar.filter(~F.col("relation").isin("before", "meets")
                     & (F.col("obj_a") != F.col("obj_b")))


def coalesce_intervals(intervals: DataFrame,
                       key: tuple[str, ...] = ("subj", "pred", "obj"),
                       max_gap: int = 0) -> DataFrame:
    """Merge a fact's validity episodes into maximal continuous
    windows (gaps-and-islands): two episodes of the same ``key`` fuse
    when the later one starts within ``max_gap`` generations of the
    earlier one's exclusive end (``max_gap=0`` fuses overlapping AND
    half-open-adjacent episodes — a fact removed and re-added in the
    same generation never shows a spurious gap). The temporal-QA
    companion to :func:`allen_relations`: "when was this fact true,
    ignoring recrawl flapping", with per-window evidence counts.

    Output: (key…, valid_from, valid_to, n_episodes, n_sources) —
    ``valid_to`` NULL when the merged window is still live,
    ``n_sources`` = distinct asserting urls inside the window.

    Scale: both window passes partition on the full fact ``key`` and
    order by the episode tuple — per-partition size = that fact's
    episode count (flap-bounded, never host-sized), ONE shuffle
    (the second window reuses the first's partitioning). Integer
    generations throughout — exact in any engine; the still-live
    sentinel is the shared ``_GEN_INF``."""
    if max_gap < 0:
        raise ValueError("max_gap must be >= 0")
    from pyspark.sql import Window
    kc = list(key)
    t = F.coalesce(F.col("valid_to"), F.lit(_GEN_INF))
    w = Window.partitionBy(*kc).orderBy("valid_from", "_t", "url")
    run_prev = F.max("_t").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    ep = (intervals.withColumn("_t", t)
          .withColumn("_new",
                      F.when(run_prev.isNull()
                             | (F.col("valid_from")
                                > run_prev + F.lit(max_gap)),
                             F.lit(1)).otherwise(F.lit(0)))
          .withColumn("_island",
                      F.sum("_new").over(
                          w.rowsBetween(Window.unboundedPreceding, 0))))
    out = (ep.groupBy(*kc, "_island")
           .agg(F.min("valid_from").alias("valid_from"),
                F.max("_t").alias("_end"),
                F.count("*").alias("n_episodes"),
                F.countDistinct("url").alias("n_sources")))
    return out.select(
        *kc, "valid_from",
        F.when(F.col("_end") == _GEN_INF, F.lit(None).cast("long"))
        .otherwise(F.col("_end")).alias("valid_to"),
        "n_episodes", "n_sources")


def triple_prf(emitted: DataFrame, golden: DataFrame) -> dict[str, float]:
    """Set precision/recall/F1 of (subj, pred, obj) vs a golden set —
    the BASELINE P/R≥0.95 gate, computed distributed (no collect of the
    big side; golden is small → broadcast joins)."""
    e = emitted.select("subj", "pred", "obj").dropDuplicates()
    g = golden.select("subj", "pred", "obj").dropDuplicates()
    n_e = e.count()
    n_g = g.count()
    n_hit = e.join(F.broadcast(g), ["subj", "pred", "obj"], "left_semi").count()
    p = n_hit / n_e if n_e else 0.0
    r = n_hit / n_g if n_g else 0.0
    f1 = 2 * p * r / (p + r) if (p + r) else 0.0
    return {"precision": p, "recall": r, "f1": f1,
            "emitted": float(n_e), "golden": float(n_g), "hits": float(n_hit)}


def kg_stats(triples: DataFrame) -> DataFrame:
    """Per-predicate KG health report (north_rule "metrics"): triple
    count, distinct subjects/objects, max and mean subject out-degree.
    The report is what a 10^12-doc build watches per snapshot — a
    predicate whose max_out_degree explodes signals a pathological
    subject (boilerplate anchor spam) before it skews a downstream join.

    Shuffle budget: one (pred, subj) agg (map-side combinable — a hot
    subject's triples partially aggregate per map task), one per-pred
    rollup, one per-pred distinct-object agg, joined on the tiny pred
    key. Nothing keys on url/host, so mega-host skew never concentrates.
    avg_out_degree is rounded to 9dp (the cross-engine double-division
    contract used throughout the oracle pairs)."""
    key = ["subj", "pred", "obj"]
    t = triples.select(*key).dropDuplicates(key)
    per_subj = t.groupBy("pred", "subj").agg(F.count("*").alias("deg"))
    a = per_subj.groupBy("pred").agg(
        F.sum("deg").cast("long").alias("n_triples"),
        F.count("*").cast("long").alias("n_subjects"),
        F.max("deg").cast("long").alias("max_out_degree"),
    )
    b = t.groupBy("pred").agg(
        F.countDistinct("obj").cast("long").alias("n_objects"))
    return a.join(b, "pred").select(
        "pred", "n_triples", "n_subjects", "n_objects", "max_out_degree",
        F.round(F.col("n_triples") / F.col("n_subjects"), 9)
         .alias("avg_out_degree"),
    )


def functional_violations(kg: DataFrame, predicate: str) -> DataFrame:
    """Functional-property constraint check (owl:FunctionalProperty):
    subjects holding MORE than one distinct object for ``predicate``,
    as (subj, n_objects, first_obj, last_obj). Run per snapshot over
    predicates the schema declares functional (a mention's taIdentRef,
    a page's canonical URL) — a non-empty result is a build bug or an
    upstream conflict to adjudicate, so the row carries the min/max
    object as the conflict sample instead of a collect_set that a
    pathological subject could balloon.

    One pushed predicate filter, one map-side-combinable groupBy on
    subj; nothing keys on url/host, so mega-host skew stays out of the
    exchange."""
    return (
        kg.filter(F.col("pred") == predicate)
        .groupBy("subj")
        .agg(F.countDistinct("obj").cast("long").alias("n_objects"),
             F.min("obj").alias("first_obj"),
             F.max("obj").alias("last_obj"))
        .filter(F.col("n_objects") > 1)
    )


def match_triples(kg: DataFrame, subj: str | None = None,
                  pred: str | None = None,
                  obj: str | None = None) -> DataFrame:
    """Triple-pattern read over a materialized snapshot: fix any subset
    of (subj, pred, obj), leave the rest as variables. Pure equality
    filters, so every bound position reaches the parquet scan as a
    pushed filter — a point lookup reads only the row groups whose
    min/max straddle the key, not the store."""
    out = kg.select("subj", "pred", "obj")
    for col, val in (("subj", subj), ("pred", pred), ("obj", obj)):
        if val is not None:
            out = out.filter(F.col(col) == val)
    return out


def link_incidence(kg: DataFrame) -> DataFrame:
    """(url, uri) page→entity incidence derived from a snapshot's
    entity-link triples (pred = itsrdf:taIdentRef); the bipartite form
    every co-mention query walks."""
    return (
        provenance_url(kg.filter(F.col("pred") == PRED_IDENT)
                       .select("subj", "pred", "obj"))
        .select("url", F.col("obj").alias("uri"))
        .dropDuplicates(["url", "uri"])
    )


def entity_neighbors(kg: DataFrame, seeds, hops: int = 1) -> DataFrame:
    """Co-mention neighborhood of ``seeds`` in a materialized KG
    snapshot: (uri, hop) where hop is the minimum number of
    shares-a-page steps from any seed (seeds themselves are hop 0,
    capped at ``hops``). Two entities are adjacent iff some url links
    both — the read-path twin of ``operators.graph.cooccurrence_edges``
    that works directly off the triple store, without re-running the
    annotation pipeline.

    Scale: the incidence table is materialized once (localCheckpoint)
    and reused every hop — the per-hop cost is two semi-joins (on uri,
    then url) plus an anti-join against the visited set. The uri
    frontier is explicitly broadcast (entity sets stay small); the url
    set is NOT — a hub entity is linked from millions of pages, so that
    side goes through a shuffled semi-join AQE can still downgrade to
    broadcast when it is actually small. BFS frontiers blow up on hub
    entities — ``hops`` is the quadratic guard, the same role as the
    LSH bucket cap."""
    spark = kg.sparkSession
    links = link_incidence(kg).localCheckpoint(eager=True)
    if not isinstance(seeds, DataFrame):
        seeds = spark.createDataFrame([(u,) for u in seeds],
                                      "uri string")
    visited = seeds.select("uri").distinct() \
        .withColumn("hop", F.lit(0)).localCheckpoint(eager=True)
    frontier = visited.select("uri")
    for h in range(1, hops + 1):
        urls = (links.join(F.broadcast(frontier), "uri", "left_semi")
                .select("url").distinct())
        reached = (links.join(urls, "url", "left_semi")
                   .select("uri").distinct())
        frontier = reached.join(visited.select("uri"), "uri", "left_anti")
        visited = visited.unionByName(
            frontier.withColumn("hop", F.lit(h))).localCheckpoint(
                eager=True)
        frontier = frontier.localCheckpoint(eager=True)
    return visited


def canonicalize_triples(kg: DataFrame, sameas: DataFrame,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """owl:sameAs canonicalization of a triple snapshot (north_rule
    "canonicalization"): every entity in a sameAs equivalence class is
    rewritten to the class's canonical member (min URI — deterministic,
    layout-independent), on BOTH the subj and obj positions, and the
    collapsed duplicates are dropped.

    sameAs is symmetric+transitive, so equivalence classes are the
    connected components of the (a, b) identity graph — computed with
    the same min-label propagation as dedup resolution
    (operators/components.py), broadcast-joined back onto the triple
    stream (identity graphs are tiny next to the corpus; mention subjs
    like 'url#char=…' simply never match and pass through). This is
    redirect closure's (K1) KG-side twin: K1 canonicalizes *before*
    linking via the lexicon; this repairs an already-materialized
    snapshot when new sameAs evidence arrives."""
    from dbpedia_spotlight_spark.operators.components import (
        connected_components)
    nodes = (sameas.select(F.col("a").alias("id"))
             .unionByName(sameas.select(F.col("b").alias("id"))).distinct())
    labels = connected_components(nodes, sameas,
                                  checkpoint_dir=checkpoint_dir)
    canon = labels.select(F.col("id"), F.col("comp").alias("canon"))
    out = kg
    for pos in ("subj", "obj"):
        out = (
            out.join(F.broadcast(canon.withColumnRenamed("id", pos)), pos,
                     "left")
            .withColumn(pos, F.coalesce("canon", pos)).drop("canon")
        )
    return out.dropDuplicates(["subj", "pred", "obj"])


def type_triples(annotations: DataFrame) -> DataFrame:
    """(entity, rdf:type, ontology type) statements for every entity
    linked anywhere in the corpus — the reference's /annotate responses
    carry per-entity types; the KG materialization of that is one
    type triple per linked (entity, type). One explode + distinct on
    the (uri, type) key: cardinality = |linked entities| × avg types,
    nothing keys on url/doc, so corpus-side skew never reaches the
    exchange."""
    return (
        annotations.select("uri", F.explode("types").alias("obj"))
        .dropDuplicates(["uri", "obj"])
        .select(F.col("uri").alias("subj"),
                F.lit("rdf:type").alias("pred"), "obj")
    )


# ---------------------------------------------------------------------------
# Mergeable snapshot digests — O(delta)-maintainable integrity checks
# for the KG generation stores (the content-hash analogue of Iceberg's
# snapshot summary).
# ---------------------------------------------------------------------------

# unit separator: cannot occur in URIs/predicates, so the concat is
# injective on the triple fields
_DIGEST_SEP = "\x1f"


def _triple_hash(cols) -> F.Column:
    from dbpedia_spotlight_spark.operators.dedup import md5_long
    return md5_long(F.concat_ws(_DIGEST_SEP, *cols))


def triple_digest(kg: DataFrame,
                  cols: tuple[str, ...] = ("subj", "pred", "obj")
                  ) -> DataFrame:
    """One row (n_triples, digest): digest = exact DECIMAL(38,0) sum
    of the 60-bit md5 of each DISTINCT triple. Properties that make it
    the store-integrity primitive:

    - **order/layout-independent** (integer sum — any partitioning,
      any engine, same value; no float, no ulp),
    - **mergeable**: digest(A ⊎ B) = digest(A) + digest(B) for
      disjoint triple sets — per-shard digests fold map-side,
    - **incrementally maintainable**: for an exact-set change log,
      digest(apply_delta(base, Δ)) = digest(base) +
      :func:`digest_shift`(Δ) — an O(|Δ|) update per generation, no
      snapshot rescan (the counting-IVM discipline applied to
      integrity itself).

    Collision stance: 60-bit sums — a corruption detector (bit rot,
    lost partition, double-applied batch, divergent replica), not a
    cryptographic commitment."""
    t = kg.select(*cols).dropDuplicates(list(cols))
    z = F.lit(0).cast("decimal(38,0)")
    return t.agg(
        F.count("*").alias("n_triples"),
        F.coalesce(F.sum(_triple_hash(cols).cast("decimal(38,0)")), z)
        .alias("digest"))


def digest_shift(delta: DataFrame,
                 cols: tuple[str, ...] = ("subj", "pred", "obj"),
                 change_col: str = "change") -> DataFrame:
    """One row (n_shift, digest_shift) for a ``triple_delta`` change
    log: Σ(+h) over added − Σ(h) over removed rows (distinct per
    (triple, change)). new snapshot digest = old + digest_shift, new
    count = old + n_shift — exact, because the change log is a
    set-diff (added rows were absent, removed rows present)."""
    d = delta.select(*cols, change_col) \
        .dropDuplicates([*cols, change_col])
    sign = F.when(F.col(change_col) == "added", 1).otherwise(-1)
    z = F.lit(0).cast("decimal(38,0)")
    return d.agg(
        F.coalesce(F.sum(sign), F.lit(0)).cast("long").alias("n_shift"),
        F.coalesce(F.sum((sign * _triple_hash(cols))
                         .cast("decimal(38,0)")), z)
        .alias("digest_shift"))
