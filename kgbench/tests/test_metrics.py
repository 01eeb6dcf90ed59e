"""End-to-end figures computed from a loop's samples."""

from __future__ import annotations

from kgbench.run import Loop


def test_op_cpu_s_sees_a_regression_in_any_one_shape():
    base = Loop()
    base.cpu = {"lookup": [1.0] * 3, "typed_bgp": [1.0] * 3,
                "aggregate": [1.0] * 3, "path": [1.0] * 3}
    for shape in base.cpu:
        slow = Loop()
        slow.cpu = {**base.cpu, shape: [10.0] * 3}
        assert slow.op_cpu_s() > 1.5 * base.op_cpu_s()


def test_op_cpu_s_of_one_shape_is_its_median():
    loop = Loop()
    loop.cpu = {"kg_build": [3.0, 1.0, 2.0]}
    assert loop.op_cpu_s() == 2.0
