"""An op that raises is a failed op, in the warmup as in the timed
window, and the loop goes on with the schedule."""

from perfbench import gen
from perfbench.loop import Workload, errors


class _Flaky(Workload):
    classes: dict = {}

    def __init__(self, bad: int):
        self.spark = None  # untraced recorders never touch Spark
        self.ops = gen.OpStream(("w",) * 3, ("a",), lambda kind: {"kind": kind})
        self.warmup_ops, self.cycle_len, self.roots = 3, 1, []
        self.bad, self.ran = bad, []

    def run_op(self, rec, i: int, op: dict) -> dict:
        self.ran.append(i)
        if i == self.bad:
            raise RuntimeError("boom")
        return {}


def test_a_failed_warmup_op_is_counted_and_the_warmup_goes_on():
    w = _Flaky(bad=1)
    w.warmup()
    assert w.ran == [0, 1, 2]
    assert w.next_op == 3  # the timed window starts where the warmup ended
    assert errors(w.log) == 1
    assert "RuntimeError" in w.log[1]["error"]
    assert "error" not in w.log[2]


def test_a_missing_metric_fails_unless_its_call_is_never_made():
    import pytest

    from perfbench.run import select

    class W:
        name = "w"
        calls = ("sources.mor_store.compact",)

    wanted = [
        {"name": "sources.mor_store.compact.jobs", "unit": "count"},
        {"name": "sources.mor_store.self_s", "unit": "s"},
        {"name": "io.write_table.jobs", "unit": "count"},
    ]
    got = select(wanted, {"sources.mor_store.compact.jobs": 3, "sources.mor_store.self_s": 0.5}, W, True)
    assert got["sources.mor_store.compact.jobs"] == {"value": 3, "unit": "count"}
    assert got["io.write_table.jobs"]["value"] == 0.0  # never called: flat
    with pytest.raises(SystemExit):  # called, but its span recorded nothing
        select(wanted, {"sources.mor_store.self_s": 0.5}, W, True)
    with pytest.raises(SystemExit):  # the layer is called, its self time is missing
        select(wanted[:2], {"sources.mor_store.compact.jobs": 3}, W, True)
