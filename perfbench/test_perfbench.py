"""Self-tests of the benchmark harness (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
from check import Oracle, digest  # noqa: E402
from stats import TAIL_BEYOND, tail, valid_name, valid_unit  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", ["corpus_prep", "wc_elt", "cdc_ingest"])
def test_generator_is_deterministic(tmp_path, workload):
    a = gen.generate(workload, 7, str(tmp_path / "a"))
    b = gen.generate(workload, 7, str(tmp_path / "b"))
    assert a == b
    ta, tb = _tree(str(tmp_path / "a")), _tree(str(tmp_path / "b"))
    assert ta == tb and len(ta) == len(a)
    c = gen.generate(workload, 8, str(tmp_path / "c"))
    assert _tree(str(tmp_path / "c")) != ta, "another seed must give other inputs"
    assert set(c) == set(a)


def test_planted_pairs_are_near_duplicates(tmp_path):
    gen.generate("corpus_prep", 3, str(tmp_path))
    o = Oracle(str(tmp_path), ["documents"])
    rows = o.frame(f"""
        SELECT a.text AS ta, b.text AS tb
        FROM '{tmp_path}/neardup_pairs.parquet' p
        JOIN documents a ON a.doc_id = p.doc_a JOIN documents b ON b.doc_id = p.doc_b
    """)
    assert len(rows) > 0
    for ta, tb in zip(rows.ta, rows.tb):
        wa, wb = ta.split(" "), tb.split(" ")
        assert len(wa) == len(wb) and sum(x != y for x, y in zip(wa, wb)) == 1


def test_tail_rule():
    assert tail(list(range(TAIL_BEYOND))) is None
    p, v, n = tail([float(x) for x in range(1, 101)])
    assert (p, v, n) == (90.0, 90.0, 100)
    # exactly TAIL_BEYOND samples lie beyond the reported value
    values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
    p, v, n = tail(values)
    assert sum(x > v for x in values) == TAIL_BEYOND and n == 12


def test_metric_names_follow_the_grammar():
    for name in list(run.END_TO_END) + list(run.PER_LAYER):
        assert valid_name(name), name
    for unit in list(run.END_TO_END.values()) + list(run.PER_LAYER.values()):
        assert valid_unit(unit), unit
    for bad in ("", "_x", "a b", "p50/ms", "x" * 65, "ms!"):
        assert not valid_name(bad)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_digest_is_order_insensitive_and_catches_a_wrong_result():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.0]})
    b = a.iloc[::-1][["v", "k"]].reset_index(drop=True)
    assert digest(a) == digest(b)
    assert digest(a) != digest(a.assign(v=[0.5, None, 2.5]))
    assert digest(a) != digest(a.iloc[:2])


def test_wrong_expected_hash_counts_as_a_failure(tmp_path):
    """A check fed a deliberately wrong expected digest must report a
    failure, which the runner counts in ``failed``."""
    import workloads

    gen.generate("corpus_prep", 1, str(tmp_path))
    wl = workloads.CorpusPrep(str(tmp_path), str(tmp_path / "w"), None)
    key = "ext_quality_filter_pipeline"
    sql = workloads._registry()[key].oracle
    frame = wl.oracle.frame(sql)
    assert wl._check_query(key, frame) is None
    n, _ = wl.oracle.expected(key, sql)
    wl.oracle._digests[key] = (n, "0" * 64)
    assert wl._check_query(key, frame) is not None
    wl.close()


class _FakeWorkload:
    """Operations that take no time; ``fail`` makes every one raise."""

    pass_len = 3
    warmup_ops = 0

    def __init__(self, fail: bool):
        self.fail = fail
        self.passes = 0

    def begin_pass(self, spark):
        self.passes += 1

    def op(self, spark, i):
        import workloads

        if self.fail:
            raise RuntimeError("out of inputs")
        return workloads.Op(0.004, 1, i)

    def check(self, i, op):
        return None


def test_loop_stops_at_a_pass_boundary():
    from spans import Tracer

    loop = run._loop(_FakeWorkload(fail=False), None, Tracer(False), 0.05)
    assert loop.attempted % 3 == 0 and loop.timed >= 0.05
    assert not loop.failures


def test_failing_operations_cannot_keep_the_loop_going():
    """Operations that fail at once add no timed work; the loop must end
    after one pass of them instead of spinning until ``seconds``."""
    from spans import Tracer

    loop = run._loop(_FakeWorkload(fail=True), None, Tracer(False), 60)
    assert loop.attempted == 3 and loop.failed == 3
    assert "no operation of the last pass completed" in loop.failures[-1]
