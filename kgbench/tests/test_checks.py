"""Every output check accepts the right answer and rejects a planted
wrong one."""

from __future__ import annotations

from kgbench import checks


def test_prf_floor():
    good = {"precision": 0.97, "recall": 0.99, "emitted": 10.0}
    assert checks.check_prf(good) == []
    assert checks.check_prf({**good, "recall": 0.5})
    assert checks.check_prf({**good, "precision": float("nan")})
    assert checks.check_prf({**good, "emitted": 0.0})


def test_extraction_must_be_byte_identical():
    rows = [("u1", "a b", "a b"), ("u2", "c\nd", "c\nd")]
    assert checks.check_extraction(rows) == []
    assert checks.check_extraction(rows + [("u3", "x  y", "x y")])
    assert checks.check_extraction([])


def test_unordered_answer_is_a_multiset():
    want = [["m1", "a"], ["m2", "b"]]
    assert checks.check_answer([("m2", "b"), ("m1", "a")], want, ordered=False) == []
    assert checks.check_answer([("m1", "a")], want, ordered=False)
    assert checks.check_answer([("m1", "a"), ("m2", "c")], want, ordered=False)
    assert checks.check_answer([("m1", "a"), ("m1", "a"), ("m2", "b")], want,
                               ordered=False)


def test_ordered_answer_checks_order():
    want = [["e1", 5], ["e2", 3]]
    assert checks.check_answer([("e1", 5), ("e2", 3)], want, ordered=True) == []
    assert checks.check_answer([("e2", 3), ("e1", 5)], want, ordered=True)
    assert checks.check_answer([("e1", 4), ("e2", 3)], want, ordered=True)


def test_batch_check():
    ok = {"ok": True}
    assert checks.check_batch({"u1"}, {"u2"}, {"u3"}, ok) == []
    assert checks.check_batch(set(), set(), set(), None) == []
    assert checks.check_batch({"u1", "u2"}, {"u2"}, set(), ok)      # stale changed
    assert checks.check_batch({"u3"}, set(), {"u3"}, ok)            # unchanged changed
    assert checks.check_batch({"u1"}, set(), set(), {"ok": False})  # digest mismatch


def test_store_check():
    assert checks.check_store(0, 0) == []
    assert checks.check_store(1, 0)
    assert checks.check_store(0, 3)


def test_link_prf():
    gold = {("m1", "e1"), ("m2", "e2")}
    assert checks.link_prf(set(gold), gold)["precision"] == 1.0
    prf = checks.link_prf({("m1", "e1"), ("m2", "e9"), ("m3", "e3")}, gold)
    assert prf["precision"] == 1 / 3 and prf["recall"] == 1 / 2
    assert checks.check_prf(prf)
