"""Streaming incremental KG maintenance (north_rule: resumable
construction + per-partition lineage, lifted onto Structured Streaming).

The batch form (``triples.triple_delta`` / ``triples.apply_delta``)
maintains a materialized (subj, pred, obj) store across crawl
snapshots. This module is its streaming twin: a ``foreachBatch`` sink
that, per micro-batch of (re)crawled pages,

    1. annotates the batch through the fused 0-Exchange pipeline,
    2. emits its mention+link triples in ONE pass,
    3. diffs them against the current KG generation (``triple_delta`` —
       a recrawled url's triple set REPLACES the old one),
    4. folds the delta in (``apply_delta``) and writes the next KG
       generation, appending the change log to a delta_log for audit
       and replay.

Idempotency under at-least-once ``foreachBatch``: replaying a batch
against an already-updated KG yields an EMPTY delta (the url's triple
set already equals the new one), so apply is the identity — the
maintainer converges to the same store regardless of redelivery. A
pytest pins this (re-apply ≡ no-op).

Generation rotation mirrors ``operators.iterate.RoundCheckpointer``:
each batch writes ``gen-<n>`` then flips the ``_LATEST`` pointer file
and deletes the previous generation, so storage stays flat at ~2
generations regardless of stream length and a restarted job resumes
from the pointer. With an Iceberg catalog this whole dance collapses to
a MERGE INTO + snapshot; the pointer-file form is the Parquet fallback
(SURVEY §7.4 — no Iceberg jar in this sandbox).

Scale: each micro-batch shuffles on the full (url, subj, pred, obj)
key — recrawl skew (mega-hosts re-crawled often) spreads over the
triple key space, never concentrating on a url partition. The KG-side
anti-join is the one cost that grows with store size; at 10^12-doc
scale the store is bucketed by the same key so the join is
co-partitioned (merge-on-read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dbpedia_spotlight_spark.operators.webstats import latest_capture
from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate
from dbpedia_spotlight_spark.streaming.annotate_stream import WEB_PAGES_DDL
from dbpedia_spotlight_spark.triples import (
    PRED_ANCHOR,
    PRED_IDENT,
    apply_delta,
    subj_col,
    triple_delta,
)

_KEY = ["url", "subj", "pred", "obj"]


def _batch_triples(annotations: DataFrame) -> DataFrame:
    """mention ∪ link triples in one pass (the all_triples explode,
    without the lineage struct — the delta log carries lineage here)."""
    po = F.explode(F.array(
        F.struct(F.lit(PRED_ANCHOR).alias("pred"),
                 F.col("surface_form").alias("obj")),
        F.struct(F.lit(PRED_IDENT).alias("pred"),
                 F.col("uri").alias("obj")),
    )).alias("po")
    return (
        annotations.select(subj_col(), po)
        .select("subj", F.col("po.pred").alias("pred"),
                F.col("po.obj").alias("obj"))
        .dropDuplicates(["subj", "pred", "obj"])
    )


class KGStore:
    """Pointer-file generation store for the materialized KG.

    Layout under ``root``::

        gen-00000/            parquet triple snapshot
        _LATEST               text file naming the live generation
        delta_log/            appended change-log batches (audit/replay)
    """

    def __init__(self, spark: SparkSession, root: str,
                 retain_gens: int = 1) -> None:
        """``retain_gens`` is the snapshot-retention knob (Iceberg's
        expire-snapshots analogue): ``advance`` keeps the newest N
        generation directories and drops older ones. Retained
        generations time-travel for free (``read_asof`` reads the
        directory); expired ones are reconstructed from the delta log,
        so ``expire_delta_log`` bounds how far back ``read_asof`` can
        reach — exactly the Iceberg snapshot/metadata lifecycle
        split."""
        if retain_gens < 1:
            raise ValueError("retain_gens must be >= 1")
        self.spark = spark
        self.retain_gens = retain_gens
        self.root = root.rstrip("/")
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        self._fs_path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._fs_path(self.root).getFileSystem(conf)

    # -- pointer-file plumbing ------------------------------------------
    def _pointer(self):
        return self._fs_path(f"{self.root}/_LATEST")

    def _read_pointer(self) -> tuple[int, int, str] | None:
        """(gen, last_batch_id, stream_token) or None before the first
        batch. The token names the batch-id sequence (a streaming
        checkpoint lineage) — foreachBatch ids are only monotonic
        WITHIN one checkpoint, so the redelivery guard must never
        compare ids across jobs."""
        p = self._pointer()
        if not self._fs.exists(p):
            return None
        stream = self._fs.open(p)
        try:
            raw = bytes(stream.readAllBytes()).decode("utf-8").strip()
        finally:
            stream.close()
        if not raw:
            return None
        parts = raw.split(",", 2)
        return (int(parts[0]),
                int(parts[1]) if len(parts) > 1 else -1,
                parts[2] if len(parts) > 2 else "")

    def latest_gen(self) -> int | None:
        ptr = self._read_pointer()
        return None if ptr is None else ptr[0]

    def latest_batch_id(self, token: str | None = None) -> int | None:
        """Highest batch_id folded in. With ``token``, only if it was
        applied under the SAME batch-id sequence (checkpoint lineage) —
        the exactly-once guard: a redelivered micro-batch of the same
        stream is skipped before any work, while a different job's
        ids (which legitimately restart at 0) are never compared."""
        ptr = self._read_pointer()
        if ptr is None:
            return None
        if token is not None and ptr[2] != token:
            return None
        return ptr[1]

    def _write_pointer(self, gen: int, batch_id: int,
                       token: str = "") -> None:
        # create-then-rename so a crash mid-write never corrupts the
        # live pointer (rename is atomic on HDFS/posix; best-effort on
        # object stores, where Iceberg metadata would replace this)
        tmp = self._fs_path(f"{self.root}/_LATEST.tmp")
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(f"{gen},{batch_id},{token}".encode("utf-8")))
        finally:
            out.close()
        p = self._pointer()
        if self._fs.exists(p):
            self._fs.delete(p, False)
        self._fs.rename(tmp, p)

    def _gen_path(self, gen: int) -> str:
        return f"{self.root}/gen-{gen:05d}"

    def _pending_gens(self, kg_store: "KGStore") -> tuple[DataFrame, list[int]]:
        """The KG delta_log tail this derived store has not folded yet,
        as (log frame, sorted gen list) — guarded against a truncated
        log: if ``expire_delta_log`` dropped partitions this store
        still needs (its pointer lags the retention window), folding
        the surviving tail would SILENTLY build a wrong state, so it
        raises instead. Generations are contiguous by construction
        (every advance appends ≥1 row; expiry drops a prefix), so the
        check is one min() against pointer+1 (or 0 for a fresh store)."""
        since = self.latest_gen()
        # heal crash residue: a fold that died between the pointer flip
        # and the previous-generation delete leaves that older directory
        # orphaned FOREVER (each later fold deletes only its own
        # predecessor) — sweep everything below the live generation.
        # Directories ABOVE it (crash between state write and flip) need
        # no sweep: the re-fold overwrites them.
        if since is not None:
            for st in self._fs.listStatus(self._fs_path(self.root)):
                name = st.getPath().getName()
                if name.startswith("gen-") and int(name[4:]) < since:
                    self._fs.delete(st.getPath(), True)
        log = kg_store.read_log(since_gen=-1 if since is None else since)
        gens = sorted(r.gen for r in log.select("gen").distinct().collect())
        need = 0 if since is None else since + 1
        if gens and gens[0] != need:
            raise ValueError(
                f"KG delta_log no longer reaches generation {need} "
                f"(oldest retained = {gens[0]}) — expired past this "
                "derived store's pointer; rebuild the state from the "
                "current snapshot instead of folding a truncated log")
        return log, gens

    def _read_state(self, name: str, ddl: str) -> DataFrame:
        """A named per-generation state frame of the live generation
        (empty frame of ``ddl`` before the first fold) — shared by the
        derived-state stores (EntailStore, GraphStore)."""
        gen = self.latest_gen()
        if gen is None:
            return self.spark.createDataFrame([], ddl)
        return self.spark.read.parquet(f"{self._gen_path(gen)}/{name}")

    # -- public API ------------------------------------------------------
    def read(self) -> DataFrame:
        """Current KG snapshot (empty triple set before the first batch)."""
        gen = self.latest_gen()
        if gen is None:
            return self.spark.createDataFrame(
                [], "subj string, pred string, obj string")
        return self.spark.read.parquet(
            f"{self._gen_path(gen)}/triples").select("subj", "pred", "obj")

    def read_url_watermarks(self) -> DataFrame | None:
        """(url, warc_ts) newest capture folded in per url, or None
        before the first batch / when the source carried no timestamps.
        This is the data-level monotonicity state: a replayed capture
        with ts ≤ the watermark can never roll a url back to stale
        content, regardless of which job or checkpoint lineage delivers
        it (the batch-id guard only covers ONE lineage)."""
        gen = self.latest_gen()
        if gen is None:
            return None
        p = self._fs_path(f"{self._gen_path(gen)}/urls")
        if not self._fs.exists(p):
            return None
        return self.spark.read.parquet(f"{self._gen_path(gen)}/urls")

    def advance(self, triples: DataFrame, delta: DataFrame,
                batch_id: int, token: str = "",
                url_watermarks: DataFrame | None = None) -> int:
        """Write the next generation (triples + url-watermark sidecar) +
        append the change log, flip the pointer, drop the previous
        generation. Returns the new gen id.

        Also maintains the generation's content digest INCREMENTALLY
        (``triples.digest_shift`` over the delta — O(|Δ|), no snapshot
        rescan; first generation / legacy upgrade pays one full
        ``triple_digest``), written into the generation directory
        before the pointer flip so it shares the crash discipline.
        ``verify_snapshot`` compares it against a full recompute."""
        from dbpedia_spotlight_spark.triples import (
            digest_shift, triple_digest)
        prev = self.latest_gen()
        gen = 0 if prev is None else prev + 1
        prev_dig = None if prev is None else self.read_digest(prev)
        triples.select("subj", "pred", "obj").write.mode(
            "overwrite").parquet(f"{self._gen_path(gen)}/triples")
        if prev_dig is None:
            # bootstrap (first generation, or a store created before
            # digests existed): one full pass over the new snapshot
            row = triple_digest(self.spark.read.parquet(
                f"{self._gen_path(gen)}/triples")).first()
            n_new, d_new = int(row[0]), int(row[1])
        else:
            row = digest_shift(delta).first()
            n_new = prev_dig[0] + int(row[0])
            d_new = prev_dig[1] + int(row[1])
        self._write_digest(gen, n_new, d_new)
        if url_watermarks is not None:
            url_watermarks.select("url", "warc_ts").write.mode(
                "overwrite").parquet(f"{self._gen_path(gen)}/urls")
        # heal crash residue: an advance that died between the delta_log
        # append and the pointer flip left an orphaned gen=<gen>
        # partition (partitions ≤ pointer are committed; this gen's can
        # only be residue) — re-appending over it would double every
        # change row for log consumers (read_asof reversal, diff,
        # derived-store counting IVM), so drop it first
        orphan = self._fs_path(f"{self.root}/delta_log/gen={gen}")
        if self._fs.exists(orphan):
            self._fs.delete(orphan, True)
        # gen-partitioned so incremental readers prune to the tail and
        # retention is a directory drop, not a rewrite
        (delta.withColumn("batch_id", F.lit(batch_id))
              .withColumn("gen", F.lit(gen))
              .write.mode("append").partitionBy("gen")
              .parquet(f"{self.root}/delta_log"))
        self._write_pointer(gen, batch_id, token)
        cutoff = gen - self.retain_gens + 1
        for g in range(max(0, cutoff - 64), cutoff):
            p = self._fs_path(self._gen_path(g))
            if self._fs.exists(p):
                self._fs.delete(p, True)
        return gen

    def _write_digest(self, gen: int, n: int, digest: int) -> None:
        out = self._fs.create(
            self._fs_path(f"{self._gen_path(gen)}/_DIGEST"), True)
        try:
            out.write(bytearray(f"{n},{digest}".encode("utf-8")))
        finally:
            out.close()

    def read_digest(self, gen: int | None = None) -> tuple[int, int] | None:
        """(n_triples, digest) recorded for ``gen`` (default: live
        generation), or None when absent (legacy store / pre-first
        batch)."""
        g = self.latest_gen() if gen is None else gen
        if g is None:
            return None
        p = self._fs_path(f"{self._gen_path(g)}/_DIGEST")
        if not self._fs.exists(p):
            return None
        stream = self._fs.open(p)
        try:
            raw = bytes(stream.readAllBytes()).decode("utf-8").strip()
        finally:
            stream.close()
        n, d = raw.split(",", 1)
        return int(n), int(d)

    def verify_snapshot(self) -> dict:
        """Integrity check: recompute the live snapshot's content
        digest and compare against the incrementally-maintained one.
        Returns {ok, n_expected, digest_expected, n_actual,
        digest_actual}; ``ok`` False means the snapshot and the folded
        change log have diverged (bit rot, lost partition, out-of-band
        edit, double-applied batch) — rebuild or restore before
        trusting reads. Raises on a store with no digest record."""
        from dbpedia_spotlight_spark.triples import triple_digest
        rec = self.read_digest()
        if rec is None:
            raise ValueError("no digest recorded for the live "
                             "generation (empty or legacy store)")
        row = triple_digest(self.read()).first()
        n_act, d_act = int(row[0]), int(row[1])
        return {"ok": (n_act, d_act) == rec,
                "n_expected": rec[0], "digest_expected": rec[1],
                "n_actual": n_act, "digest_actual": d_act}

    def read_asof(self, gen: int) -> DataFrame:
        """Time-travel read: the triple snapshot as of generation
        ``gen``. A retained generation (within ``retain_gens``) is read
        straight from its directory; an expired one is reconstructed
        from the CURRENT snapshot by net-change reversal over the delta
        log — for each triple changed in (gen, latest], its FIRST
        change in the window decides its state at ``gen`` (set-diff
        deltas alternate added/removed per triple, so first = 'removed'
        ⟺ the triple existed at ``gen``):

            asof = latest ⟂ changed  ∪  {t : first_change(t)='removed'}

        One groupBy over the gen-pruned log tail + one anti-join —
        cost ∝ |changes since gen|, never a snapshot-sized diff.
        ``expire_delta_log`` bounds the reachable horizon; reading past
        it raises rather than silently returning a wrong snapshot.

        Two invariants this reversal rests on (both pytest-pinned):
        (1) ``subj`` embeds the url (``triples.subj_col``), so the
        per-gen change log is a genuine set-diff on (subj, pred, obj) —
        one url's 'removed' can never be shadowed by another url still
        asserting the same triple; (2) every advanced generation
        appends ≥1 delta row (``apply_pages_batch`` keeps the current
        generation on a no-op batch instead of advancing), so a gap at
        ``gen+1`` in the log always means expiry, never an empty
        delta — callers driving ``advance`` directly must preserve
        that (skip the advance when the delta is empty)."""
        latest = self.latest_gen()
        if latest is None or gen < 0 or gen > latest:
            raise ValueError(f"generation {gen} does not exist "
                             f"(latest = {latest})")
        p = self._fs_path(self._gen_path(gen))
        if self._fs.exists(p):
            return self.spark.read.parquet(
                f"{self._gen_path(gen)}/triples").select(
                "subj", "pred", "obj")
        log = self.read_log(since_gen=gen)
        lo = log.select("gen").agg(F.min("gen").alias("lo")).collect()[0].lo
        if lo is None or lo != gen + 1:
            raise ValueError(
                f"delta_log no longer reaches generation {gen} "
                f"(oldest retained log gen = {lo}) — expired by "
                "expire_delta_log")
        changed = log.groupBy("subj", "pred", "obj").agg(
            F.min_by("change", "gen").alias("first_change"))
        keys = ["subj", "pred", "obj"]
        kept = self.read().join(changed.select(*keys), keys, "left_anti")
        was_present = changed.filter(
            F.col("first_change") == "removed").select(*keys)
        return kept.unionByName(was_present)

    def diff(self, gen_a: int, gen_b: int) -> DataFrame:
        """Net triple diff between two generations (Iceberg's
        incremental-read shape): (subj, pred, obj, change) with change
        reflecting presence at ``gen_b`` vs ``gen_a``. Pure log
        aggregation — for each triple changed in (gen_a, gen_b],
        presence at gen_a ⟺ its FIRST change is 'removed', presence at
        gen_b ⟺ its LAST change is 'added' (same set-diff invariants as
        ``read_asof``); rows where the two differ are the diff. A
        remove-then-re-add inside the window correctly nets to nothing.
        One gen-pruned scan + one groupBy, cost ∝ changes in the
        window — never snapshot-sized, unlike diffing two ``read_asof``
        frames."""
        latest = self.latest_gen()
        if (latest is None or gen_a < 0 or gen_b < gen_a
                or gen_b > latest):
            raise ValueError(
                f"invalid generation window [{gen_a}, {gen_b}] "
                f"(latest = {latest})")
        empty = self.spark.createDataFrame(
            [], "subj string, pred string, obj string, change string")
        if gen_a == gen_b:
            return empty
        log = self.read_log(since_gen=gen_a).filter(F.col("gen") <= gen_b)
        lo = log.select("gen").agg(F.min("gen").alias("lo")).collect()[0].lo
        if lo is None or lo != gen_a + 1:
            raise ValueError(
                f"delta_log no longer reaches generation {gen_a} "
                f"(oldest retained log gen = {lo}) — expired by "
                "expire_delta_log")
        g = log.groupBy("subj", "pred", "obj").agg(
            F.min_by("change", "gen").alias("first_change"),
            F.max_by("change", "gen").alias("last_change"))
        return (
            g.filter((F.col("first_change") == "removed")
                     != (F.col("last_change") == "added"))
            .select("subj", "pred", "obj",
                    F.when(F.col("last_change") == "added",
                           F.lit("added"))
                     .otherwise(F.lit("removed")).alias("change")))

    def read_log(self, since_gen: int = -1) -> DataFrame:
        """Change-data feed: delta_log rows with ``gen > since_gen``
        (url, subj, pred, obj, change, batch_id, gen). Downstream
        incremental consumers (index refresh, embedding updates, a
        second KG) poll this instead of diffing snapshots — the gen
        partition column prunes the scan to the unseen tail, so a
        caught-up consumer reads ~nothing regardless of log size."""
        p = self._fs_path(f"{self.root}/delta_log")
        if not self._fs.exists(p):
            return self.spark.createDataFrame(
                [], "url string, subj string, pred string, obj string, "
                    "change string, batch_id long, gen int")
        log = self.spark.read.parquet(f"{self.root}/delta_log")
        return log.filter(F.col("gen") > F.lit(since_gen))

    def expire_delta_log(self, keep_last: int) -> int:
        """Retention: drop delta_log partitions older than the newest
        ``keep_last`` generations (whole-directory deletes — no file
        rewrite). The audit log otherwise grows with every batch
        forever; at web scale this is the lifecycle knob. Returns the
        number of partitions dropped."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        latest = self.latest_gen()
        if latest is None:
            return 0
        cutoff = latest - keep_last + 1
        dropped = 0
        root = self._fs_path(f"{self.root}/delta_log")
        if not self._fs.exists(root):
            return 0
        for st in self._fs.listStatus(root):
            name = st.getPath().getName()
            if not name.startswith("gen="):
                continue
            if int(name.split("=", 1)[1]) < cutoff:
                self._fs.delete(st.getPath(), True)
                dropped += 1
        return dropped


class EntailStore(KGStore):
    """Generation store for the counting-IVM entailment states
    (operators/ontology.py::maintain_entailed_types): per generation a
    ``links`` frame (uri, n_links — live mention→entity link counts)
    and a ``types`` frame (subj, obj, n_derivations — rdfs:9 derivation
    counts). Reuses KGStore's pointer plumbing; the pointer's gen IS
    the KG generation the state is caught up to, so ``catchup`` is
    idempotent and resumable — it folds exactly the delta_log
    partitions newer than its own pointer, one per KG generation, and
    flips the pointer only after that generation's state is durable."""

    _LINKS_DDL = "uri string, n_links long"
    _TYPES_DDL = "subj string, obj string, n_derivations long"

    def read_links(self) -> DataFrame:
        return self._read_state("links", self._LINKS_DDL)

    def read_types(self) -> DataFrame:
        return self._read_state("types", self._TYPES_DDL)

    def read_entailed(self) -> DataFrame:
        """The entailed rdf:type view (subj, pred, obj) — asserted plus
        inherited types of every entity currently linked in the KG."""
        return self.read_types().select(
            "subj", F.lit("rdf:type").alias("pred"), "obj")

    def catchup(self, kg_store: KGStore, entity_types: DataFrame,
                closure: DataFrame) -> dict:
        """Fold every KG delta_log generation newer than this store's
        pointer through ``maintain_entailed_types``. Each folded
        generation's states are written (parquet — also the lineage cut
        for the next fold) before the pointer flips, and the previous
        generation is dropped after — the same crash-consistent
        flat-storage discipline as the triple snapshot itself."""
        from dbpedia_spotlight_spark.operators.ontology import (
            maintain_entailed_types)
        log, gens = self._pending_gens(kg_store)
        links, types = self.read_links(), self.read_types()
        stats = {"gens_folded": 0, "entailed_added": 0,
                 "entailed_removed": 0}
        for g in gens:
            links, types, ent_delta = maintain_entailed_types(
                links, types, log.filter(F.col("gen") == g),
                entity_types, closure)
            links.write.mode("overwrite").parquet(
                f"{self._gen_path(g)}/links")
            types.write.mode("overwrite").parquet(
                f"{self._gen_path(g)}/types")
            by = {r["change"]: r["n"] for r in
                  ent_delta.groupBy("change").agg(F.count("*").alias("n"))
                  .collect()}
            prev = self.latest_gen()
            self._write_pointer(g, -1)
            if prev is not None:
                self._fs.delete(self._fs_path(self._gen_path(prev)), True)
            links, types = self.read_links(), self.read_types()
            stats["gens_folded"] += 1
            stats["entailed_added"] += by.get("added", 0)
            stats["entailed_removed"] += by.get("removed", 0)
        stats["gen"] = self.latest_gen()
        return stats


class GraphStore(KGStore):
    """Generation store for the counting-IVM co-mention graph
    (operators/graph.py::maintain_comention): per generation an
    ``incidence`` frame (url, uri, n_links) and an ``edges`` frame
    (uri_a, uri_b, n_docs ≡ ``cooccurrence_edges`` over the live
    incidence). Same pointer discipline as EntailStore: the pointer's
    gen IS the KG generation the graph is caught up to, each
    generation's states are written durably before the pointer flips,
    and an orphaned generation (crash between write and flip) heals on
    the next catchup."""

    _INC_DDL = "url string, uri string, n_links long"
    _EDGE_DDL = "uri_a string, uri_b string, n_docs long"

    def read_incidence(self) -> DataFrame:
        return self._read_state("incidence", self._INC_DDL)

    def read_edges(self) -> DataFrame:
        return self._read_state("edges", self._EDGE_DDL)

    def catchup(self, kg_store: KGStore,
                max_entities_per_doc: int = 1000) -> dict:
        """Fold every KG delta_log generation newer than this store's
        pointer through ``maintain_comention`` — the co-mention graph
        follows each crawl batch for the price of the batch's touched
        pages, never a corpus-scale pair re-expansion."""
        from dbpedia_spotlight_spark.operators.graph import (
            maintain_comention)
        log, gens = self._pending_gens(kg_store)
        inc, edges = self.read_incidence(), self.read_edges()
        stats = {"gens_folded": 0, "edges_added": 0, "edges_removed": 0}
        for g in gens:
            inc, edges, edge_delta = maintain_comention(
                inc, edges, log.filter(F.col("gen") == g),
                max_entities_per_doc)
            inc.write.mode("overwrite").parquet(
                f"{self._gen_path(g)}/incidence")
            edges.write.mode("overwrite").parquet(
                f"{self._gen_path(g)}/edges")
            by = {r["change"]: r["n"] for r in
                  edge_delta.groupBy("change").agg(F.count("*").alias("n"))
                  .collect()}
            prev = self.latest_gen()
            self._write_pointer(g, -1)
            if prev is not None:
                self._fs.delete(self._fs_path(self._gen_path(prev)), True)
            inc, edges = self.read_incidence(), self.read_edges()
            stats["gens_folded"] += 1
            stats["edges_added"] += by.get("added", 0)
            stats["edges_removed"] += by.get("removed", 0)
        stats["gen"] = self.latest_gen()
        return stats


class SameasStore(KGStore):
    """Generation store for the incrementally-maintained sameAs edge
    set (operators/er.py::maintain_sameas): per generation one
    ``edges`` frame (a, b, n_shared, name_dist — the er_sameas 'all'
    mode output). Same pointer discipline as EntailStore/GraphStore:
    the pointer's gen IS the KG generation the edge set is caught up
    to, each generation's state is written durably before the pointer
    flips, and an orphaned generation heals on the next catchup.

    Per pending generation the fold needs the post-delta KG snapshot
    (``maintain_sameas`` recomputes touched blocks against it) —
    ``KGStore.read_asof(gen)`` supplies it, reading the retained
    snapshot directly or reconstructing an expired one from the log
    tail."""

    _EDGE_DDL = "a string, b string, n_shared long, name_dist int"
    _LABEL_DDL = "id string, comp string"

    def read_edges(self) -> DataFrame:
        return self._read_state("edges", self._EDGE_DDL)

    def read_labels(self) -> DataFrame:
        """The maintained canonical map (id, comp) — only entities that
        ever touched a sameAs edge carry a row; absence means
        self-canonical. Populated when ``catchup(components=True)``."""
        if not self._has_labels():
            raise ValueError(
                "this SameasStore generation carries no labels frame — "
                "run catchup(components=True) first (it bootstraps the "
                "canonical map from the current edge set)")
        return self._read_state("labels", self._LABEL_DDL)

    def _has_labels(self) -> bool:
        gen = self.latest_gen()
        return gen is None or self._fs.exists(
            self._fs_path(f"{self._gen_path(gen)}/labels"))

    def catchup(self, kg_store: KGStore, key_preds: list[str],
                name_pred: str = "foaf:name", max_name_dist: int = 2,
                min_shared: int = 2, max_block: int = 64,
                max_names: int = 4, components: bool = False) -> dict:
        """Fold every KG delta_log generation newer than this store's
        pointer through ``maintain_sameas`` — entity resolution follows
        each crawl batch for the price of its touched blocks, never a
        KG-scale re-blocking. ``components=True`` additionally chains
        each generation's edge delta through ``maintain_components``,
        so the canonical-entity map (min-URI per sameAs cluster — what
        ``canonicalize_triples`` consumes) is maintained in the same
        fold, zone-local, never graph-scale.

        The flag is safe to toggle between runs: enabling it over a
        store previously caught up without labels BOOTSTRAPS the map
        from the current edge set (one ``connected_components``, edge-
        set-sized), and once labels exist they stay maintained on every
        later fold even if called with ``components=False`` — pausing
        would silently drop the map when the fold deletes the previous
        generation directory."""
        from dbpedia_spotlight_spark.operators.components import (
            connected_components, maintain_components)
        from dbpedia_spotlight_spark.operators.er import maintain_sameas
        log, gens = self._pending_gens(kg_store)
        edges = self.read_edges()
        # The components flag is STICKY across runs: once a catchup has
        # maintained labels, later folds keep maintaining them even when
        # called with components=False — each fold deletes the previous
        # generation dir, so pausing would silently drop the canonical
        # map. Toggling ON over a store previously caught up withOUT
        # labels bootstraps them from the CURRENT edge set (one
        # connected_components over the sameAs graph — edge-set-sized,
        # never KG-sized), persisted into the live generation so
        # read_labels works immediately, then maintained incrementally.
        live = self.latest_gen()
        labels_present = live is not None and self._fs.exists(
            self._fs_path(f"{self._gen_path(live)}/labels"))
        maintain_labels = components or labels_present
        labels = None
        if maintain_labels:
            if labels_present or live is None:
                labels = self.read_labels()
            else:
                nodes = (edges.select(F.col("a").alias("id"))
                         .unionByName(edges.select(F.col("b").alias("id")))
                         .distinct())
                labels = connected_components(
                    nodes, edges.select("a", "b")).localCheckpoint(
                        eager=True)
                labels.write.mode("overwrite").parquet(
                    f"{self._gen_path(live)}/labels")
                labels = self.read_labels()
        stats = {"gens_folded": 0, "sameas_added": 0, "sameas_removed": 0}
        if maintain_labels:
            stats["labels_changed"] = 0
        for g in gens:
            kg_g = kg_store.read_asof(g).select("subj", "pred", "obj")
            edges, edge_delta = maintain_sameas(
                edges, kg_g, log.filter(F.col("gen") == g), key_preds,
                name_pred=name_pred, max_name_dist=max_name_dist,
                min_shared=min_shared, max_block=max_block,
                max_names=max_names)
            edges = edges.localCheckpoint(eager=True)
            edges.write.mode("overwrite").parquet(
                f"{self._gen_path(g)}/edges")
            if maintain_labels:
                labels, label_delta = maintain_components(
                    labels, edges, edge_delta)
                labels.write.mode("overwrite").parquet(
                    f"{self._gen_path(g)}/labels")
                stats["labels_changed"] += label_delta.count()
            by = {r["change"]: r["n"] for r in
                  edge_delta.groupBy("change").agg(F.count("*").alias("n"))
                  .collect()}
            prev = self.latest_gen()
            self._write_pointer(g, -1)
            if prev is not None:
                self._fs.delete(self._fs_path(self._gen_path(prev)), True)
            edges = self.read_edges()
            if maintain_labels:
                labels = self.read_labels()
            stats["gens_folded"] += 1
            stats["sameas_added"] += by.get("added", 0)
            stats["sameas_removed"] += by.get("removed", 0)
        stats["gen"] = self.latest_gen()
        return stats


class RelationStore(KGStore):
    """Generation store for the incrementally-maintained open-relation
    state (operators/relations.py::maintain_relations): per generation
    one ``doc_rel`` frame (url, subj_uri, predicate, obj_uri, n — the
    per-document relation-occurrence counts); the corpus-level counted
    relation table is its ``rollup_relations`` view (``read_relations``).

    Same pointer discipline as EntailStore/GraphStore/SameasStore, with
    one deliberate difference: the relation state is PER-DOCUMENT
    REPLACE (a touched document's contributions are recomputed
    wholesale, not counted per change row), so folding N pending KG
    generations in ONE ``maintain_relations`` call is exactly the state
    the N per-generation folds would produce — only the LAST touch per
    url matters. ``catchup`` therefore collapses the pending log tail
    into a single fold whose cost is ∝ distinct touched documents, and
    writes a single new generation named after the newest KG generation
    it saw. This is also what makes the text contract sound: predicate
    surfaces are sliced from document text, which the triple log does
    not carry, so the caller supplies the live corpus table (url,
    text) — the SAME crawl state the KG's newest generation was built
    from — and the collapsed fold never needs text as-of an
    intermediate generation.

    Crash windows (pytest-killed in tests/test_store_crash_injection.py):
    a crash after the ``doc_rel`` write but before the pointer flip
    refolds from the unflipped state against the same log tail and
    overwrites the orphan directory; a crash after the flip but before
    the previous-generation delete is swept by ``_pending_gens`` on the
    next catchup."""

    _DOCREL_DDL = ("url string, subj_uri string, predicate string, "
                   "obj_uri string, n long")

    def read_doc_rel(self) -> DataFrame:
        return self._read_state("doc_rel", self._DOCREL_DDL)

    def read_relations(self, min_count: int = 1) -> DataFrame:
        """Corpus-level (subj_uri, predicate, obj_uri, n, n_docs) —
        one map-side-combinable aggregate over the maintained state."""
        from dbpedia_spotlight_spark.operators.relations import (
            rollup_relations)
        return rollup_relations(self.read_doc_rel(), min_count)

    def catchup(self, kg_store: KGStore, corpus: DataFrame,
                text_col: str = "text", max_gap: int = 80,
                max_pred_tokens: int = 4) -> dict:
        """Fold every KG delta_log generation newer than this store's
        pointer through ONE ``maintain_relations`` call (see class
        docstring for why the collapse is exact). ``corpus`` carries
        (url, ``text_col``) for the crawl state the KG's newest
        generation was built from; deleted urls are simply absent.
        Mentions are reconstructed from the snapshot's link triples —
        the NIF subj ``<url>#char=<begin>,<end>`` round-trips the
        offsets, so no side-channel mention table is needed."""
        from dbpedia_spotlight_spark.operators.relations import (
            maintain_relations)
        log, gens = self._pending_gens(kg_store)
        stats = {"gens_folded": 0, "rel_added": 0, "rel_removed": 0}
        if not gens:
            stats["gen"] = self.latest_gen()
            return stats
        touched = log.select("url").distinct()
        nif = r"^(.*)#char=(\d+),(\d+)$"
        mentions = (
            kg_store.read()
            .filter(F.col("pred") == PRED_IDENT)
            .select(F.regexp_extract("subj", nif, 1).alias("url"),
                    F.regexp_extract("subj", nif, 2).cast("int")
                    .alias("begin"),
                    F.regexp_extract("subj", nif, 3).cast("int")
                    .alias("end"),
                    F.col("obj").alias("uri"))
            .filter(F.col("url") != ""))
        docs = corpus.select("url", F.col(text_col).alias("text"))
        # completeness guard: a touched url that still carries link
        # mentions in the snapshot MUST have text in the corpus —
        # treating it as deleted would silently drop its relation
        # contributions. (A url whose new capture truly lost all
        # mentions has none in the snapshot and needs no text.) Cost:
        # one semi+anti join over the delta-sized touched-mention set.
        # a null/blank text row cannot carry the mentions the snapshot
        # still holds for that url (annotate would have emitted none),
        # so it counts as missing, not as present
        have_text = (docs.filter(F.col("text").isNotNull()
                                 & (F.col("text") != ""))
                     .select("url").distinct())
        missing = (mentions.join(touched, "url", "left_semi")
                   .select("url").distinct()
                   .join(have_text, "url", "left_anti"))
        sample = [r.url for r in missing.limit(3).collect()]
        if sample:
            raise ValueError(
                "corpus is missing text for touched urls still linked "
                f"in the KG snapshot (e.g. {sample}) — folding would "
                "silently drop their relation contributions; supply "
                "the full live corpus")
        doc_rel, crossing = maintain_relations(
            self.read_doc_rel(), touched, mentions, docs,
            id_col="url", text_col="text", max_gap=max_gap,
            max_pred_tokens=max_pred_tokens)
        # checkpoint BEFORE the state write: the crossing frame shares
        # the maintain lineage, and counting it after the write would
        # re-run the whole fold
        crossing = crossing.localCheckpoint(eager=True)
        g = gens[-1]
        doc_rel.write.mode("overwrite").parquet(
            f"{self._gen_path(g)}/doc_rel")
        by = {r["change"]: r["n"] for r in
              crossing.groupBy("change").agg(F.count("*").alias("n"))
              .collect()}
        prev = self.latest_gen()
        self._write_pointer(g, -1)
        if prev is not None:
            self._fs.delete(self._fs_path(self._gen_path(prev)), True)
        stats.update({"gens_folded": len(gens), "gen": g,
                      "rel_added": by.get("added", 0),
                      "rel_removed": by.get("removed", 0)})
        return stats


def apply_pages_batch(spark: SparkSession, pages: DataFrame, model_bc,
                      store: KGStore, batch_id: int,
                      cfg: PipelineConfig | None = None,
                      token: str = "",
                      metrics: dict | None = None) -> int:
    """One maintenance step: annotate → triples → delta vs store →
    advance. Usable directly for batch recrawl folds; ``foreachBatch``
    calls it per micro-batch. Returns the number of change-log rows.

    A micro-batch can itself carry several captures of one url (hot
    pages are re-crawled within a single trigger window); per-url
    replace semantics demand the NEWEST capture only, so the batch is
    reduced with ``latest_capture`` first — the map-side-combinable
    max-struct form, never a window sort.

    Stale-capture gate: before the (expensive) annotate step, captures
    whose ``warc_ts`` is not strictly newer than the store's per-url
    watermark are dropped. A capture is identified by (url, warc_ts) —
    same-ts redelivery is a replay by contract — so this makes per-url
    content MONOTONIC in crawl time across ALL delivery paths: a fresh
    checkpoint replaying old micro-batches, an out-of-order backfill
    job, or a batch-mode re-fold can never roll a url back to stale
    content, and costs no annotation work for the stale rows."""
    # a batch without timestamps must not DROP the watermark state the
    # store already holds — carry the sidecar forward unchanged
    watermarks = store.read_url_watermarks()
    if "warc_ts" in pages.columns:
        pages = latest_capture(pages, key_col="url", ts_col="warc_ts")
        old_w = watermarks
        if old_w is not None:
            prev = old_w.select("url",
                                F.col("warc_ts").alias("_seen_ts"))
            pages = (pages.join(prev, "url", "left")
                     .filter(F.col("_seen_ts").isNull()
                             | (F.col("warc_ts") > F.col("_seen_ts")))
                     .drop("_seen_ts"))
        new_w = pages.select("url", "warc_ts")
        watermarks = (new_w if old_w is None
                      else old_w.unionByName(new_w)
                      .groupBy("url").agg(F.max("warc_ts")
                                          .alias("warc_ts")))
    new_triples = _batch_triples(annotate(spark, pages, model_bc, cfg))
    old = store.read()
    # every url that passed the gate is recrawled — also one whose new
    # capture yields no triples (e.g. it turned non-English)
    delta = triple_delta(old, new_triples, pages).localCheckpoint(eager=True)
    n_changes = delta.count()
    if metrics is not None:
        # delta is checkpointed, so the split agg re-reads a tiny
        # materialized frame, not the annotate lineage
        by = {r["change"]: r["n"] for r in
              delta.groupBy("change").agg(F.count("*").alias("n"))
              .collect()}
        metrics.update({"batch_id": batch_id, "n_changes": n_changes,
                        "n_added": by.get("added", 0),
                        "n_removed": by.get("removed", 0)})
    if n_changes == 0 and store.latest_gen() is not None:
        if metrics is not None:
            metrics["gen"] = store.latest_gen()
        return 0  # replay / stale / no-op recrawl: keep the generation
    merged = apply_delta(old, delta)
    # re-derive the un-prefixed triple view (apply_delta keys on url)
    gen = store.advance(merged.select("subj", "pred", "obj"), delta,
                        batch_id, token, url_watermarks=watermarks)
    if metrics is not None:
        metrics["gen"] = gen
    return n_changes


def maintain_kg_stream(spark: SparkSession, input_dir: str, model_bc,
                       kg_dir: str, checkpoint_dir: str,
                       cfg: PipelineConfig | None = None,
                       schema: str = WEB_PAGES_DDL,
                       max_files_per_trigger: int | None = None,
                       metrics_log: list | None = None):
    """readStream(pages dir) → foreachBatch KG maintenance, drained with
    ``availableNow`` (deterministic; tests assert stream ≡ batch). The
    streaming checkpoint makes redelivery at-least-once; idempotency of
    ``apply_pages_batch`` upgrades the store to effectively-once."""
    store = KGStore(spark, kg_dir)
    # the checkpoint dir IS the batch-id sequence identity: foreachBatch
    # ids are monotonic only within one checkpoint lineage, so the
    # redelivery guard is scoped to it (a fresh checkpoint restarts at
    # batch 0 and must never be skipped against another job's ids)
    token = f"ck:{checkpoint_dir.rstrip('/')}"
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(input_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        last = store.latest_batch_id(token)
        if last is not None and batch_id <= last:
            if metrics_log is not None:
                metrics_log.append({"batch_id": batch_id,
                                    "skipped_redelivery": True})
            return  # redelivered micro-batch: already folded in
        m: dict | None = {} if metrics_log is not None else None
        apply_pages_batch(spark, batch_df, model_bc, store, batch_id, cfg,
                          token, metrics=m)
        if metrics_log is not None:
            metrics_log.append(m)

    q = (
        src.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return store


class EmbeddingStore(KGStore):
    """Generation store for incrementally-maintained KG embeddings
    (TransE, DistMult or ComplEx — ``model`` pinned in meta at first fold like
    ``dim``; operators/kgembed.py): per generation one ``embeddings``
    frame (kind, name, v) plus a one-row ``meta`` frame recording the
    model config and the cumulative step count. Follows a
    :class:`RelationStore` (the entity-to-entity triple state the
    trainer consumes) the way the relation store follows the KG delta
    log.

    ``catchup(rel_store, steps=K)`` warm-starts from the live
    embeddings (``resume_from`` + ``step_offset`` — bit-exact
    continuation, see ``train_transe``) and runs K more full-batch
    steps over the CURRENT corroborated relation triples: entities and
    relations that survived the delta keep their trained vectors, new
    ones enter at hash init, disappeared ones are dropped with the
    triple set — the standard embedding-refresh lifecycle instead of
    retraining from scratch. ``dim`` is pinned at first fold; changing
    it later raises (re-root the store to retrain at a new dim).

    Same pointer-file crash discipline as the sibling stores: state is
    written into the new generation directory BEFORE the pointer flip,
    and an orphan directory from a crash between write and flip is
    simply overwritten on the next catchup.
    """

    _EMB_DDL = "kind string, name string, v array<double>"
    _META_DDL = ("dim int, steps_done int, lr double, margin double, "
                 "min_docs int, model string")

    def read_embeddings(self) -> DataFrame:
        return self._read_state("embeddings", self._EMB_DDL)

    def read_meta(self) -> dict | None:
        gen = self.latest_gen()
        if gen is None:
            return None
        row = self.spark.read.parquet(
            f"{self._gen_path(gen)}/meta").head()
        return row.asDict()

    def catchup(self, rel_store: RelationStore, dim: int = 16,
                steps: int = 2, lr: float = 0.1, margin: float = 1.0,
                min_docs: int = 2, model: str = "transe") -> dict:
        """Refresh embeddings against ``rel_store``'s live generation.
        No-op when already caught up AND no steps are requested beyond
        what the pointer generation recorded; otherwise trains
        ``steps`` more steps (warm-started) and writes a generation
        named after the relation store's."""
        from dbpedia_spotlight_spark.operators.kgembed import (
            train_distmult, train_transe)
        from dbpedia_spotlight_spark.operators.relations import (
            relation_triples)
        from dbpedia_spotlight_spark.operators.kgembed import (
            train_complex)
        trainers = {"transe": train_transe, "distmult": train_distmult,
                    "complex": train_complex}
        if model not in trainers:
            raise ValueError(f"unknown model: {model}"
                             " ('transe' | 'distmult' | 'complex')")
        rel_gen = rel_store.latest_gen()
        if rel_gen is None:
            raise ValueError("relation store has no live generation — "
                             "run its catchup first")
        meta = self.read_meta()
        if meta is not None and meta["dim"] != dim:
            raise ValueError(
                f"store was trained at dim={meta['dim']}; retraining at "
                f"dim={dim} needs a fresh store root")
        # stores created before the model column default to transe
        if meta is not None and meta.get("model", "transe") != model:
            raise ValueError(
                f"store was trained with model={meta.get('model')}; "
                f"switching to model={model} needs a fresh store root "
                "(the geometries share nothing)")
        if meta is not None and self.latest_gen() == rel_gen:
            return {"gen": rel_gen, "steps_done": meta["steps_done"],
                    "trained": 0}
        prev = self.read_embeddings() if meta is not None else None
        offset = meta["steps_done"] if meta is not None else 0
        trips = relation_triples(
            rel_store.read_relations(), min_docs=min_docs) \
            .select("subj", "pred", "obj")
        emb = trainers[model](trips, dim=dim, n_steps=steps, lr=lr,
                              margin=margin, resume_from=prev,
                              step_offset=offset)
        gen_dir = self._gen_path(rel_gen)
        emb.write.mode("overwrite").parquet(f"{gen_dir}/embeddings")
        self.spark.createDataFrame(
            [(dim, offset + steps, float(lr), float(margin),
              min_docs, model)], self._META_DDL) \
            .write.mode("overwrite").parquet(f"{gen_dir}/meta")
        prev_gen = self.latest_gen()
        self._write_pointer(rel_gen, -1)
        if prev_gen is not None and prev_gen != rel_gen:
            self._fs.delete(self._fs_path(self._gen_path(prev_gen)), True)
        n = emb.count()
        return {"gen": rel_gen, "steps_done": offset + steps,
                "trained": steps, "n_embeddings": n}
