"""Output checks. Each returns a list of failure descriptions (empty =
correct); the runner counts every failing operation toward ``failed``."""

from __future__ import annotations

# link precision and recall below this floor mark the build wrong; the
# measured values are reported either way
PRF_FLOOR = 0.9


def check_prf(prf: dict[str, float], floor: float = PRF_FLOOR) -> list[str]:
    bad = [f"link {k} {prf[k]:.4f} < {floor}" for k in ("precision", "recall")
           if not prf[k] >= floor]
    if prf.get("emitted", 1) <= 0:
        bad.append("no link triples emitted")
    return bad


def link_prf(emitted: set[tuple], golden: set[tuple]) -> dict[str, float]:
    """Set precision/recall of link triples given as (subj, obj) pairs, as
    ``triples.triple_prf`` defines them, for a KG small enough to compare
    on the driver (triple_prf costs three Spark jobs)."""
    hits = len(emitted & golden)
    return {"precision": hits / len(emitted) if emitted else 0.0,
            "recall": hits / len(golden) if golden else 0.0,
            "emitted": float(len(emitted))}


def check_extraction(rows: list[tuple[str, str, str]]) -> list[str]:
    """rows: (url, extracted_text, expected_text); must be byte-identical."""
    if not rows:
        return ["extraction sample is empty"]
    return [f"extraction differs for {u}" for u, got, want in rows if got != want]


def _canon(rows) -> list[tuple]:
    return [tuple(r) for r in rows]


def check_answer(got_rows, expected: list[list], ordered: bool) -> list[str]:
    """A query's collected rows against its precomputed answer: exact
    order when the query orders its result, else as a multiset."""
    got, want = _canon(got_rows), _canon(expected)
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    if got != want:
        return [f"answer differs: got {len(got)} rows, want {len(want)}"
                f"{'' if len(got) != len(want) else ' (same count)'}"]
    return []


def check_batch(changed_urls: set[str], stale_urls: set[str],
                unchanged_urls: set[str], verify: dict | None) -> list[str]:
    """One recrawl batch: the snapshot digest must verify after a new
    generation, and stale replays / unchanged re-fetches must produce no
    change rows."""
    bad = []
    if verify is not None and not verify.get("ok"):
        bad.append(f"verify_snapshot failed: {verify}")
    if changed_urls & stale_urls:
        bad.append(f"{len(changed_urls & stale_urls)} stale replays changed the store")
    if changed_urls & unchanged_urls:
        bad.append(f"{len(changed_urls & unchanged_urls)} unchanged re-fetches "
                   "changed the store")
    return bad


def check_store(missing: int, extra: int) -> list[str]:
    """Final recrawl store vs all_triples(annotate(latest capture per url))."""
    bad = []
    if missing:
        bad.append(f"store lacks {missing} expected triples")
    if extra:
        bad.append(f"store holds {extra} unexpected triples")
    return bad


def triple_set_diff(store_df, expected_df) -> tuple[int, int]:
    """(expected rows missing from the store, store rows not expected)."""
    key = ["subj", "pred", "obj"]
    a = store_df.select(*key).dropDuplicates()
    b = expected_df.select(*key).dropDuplicates()
    return (b.join(a, key, "left_anti").count(), a.join(b, key, "left_anti").count())
