"""Unit tests of the benchmark's own machinery; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

import app  # noqa: E402
import checks  # noqa: E402
import evlog  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, layer_self_totals, self_times, union_length  # noqa: E402

DATA = Path(__file__).resolve().parent / "data"


def test_metric_names_and_units_match_benchmark_json():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(app.WORKLOADS)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        Span("op.q", None, 0.0, 10.0),
        Span("plans.build", 0, 1.0, 4.0),
        Span("exec.action", 0, 3.0, 6.0),    # overlaps its sibling by 1
        Span("nested", 2, 4.0, 5.0),
        Span("late", 0, 9.0, 12.0),          # runs past its parent's end
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 3, 2, 1, 3])
    totals = layer_self_totals(spans + [Span("plans.build", None, 20.0, 21.5)])
    assert totals["plans.build"] == pytest.approx(4.5)


def test_tracer_nests_spans_by_call_order():
    tr = Tracer()
    with tr.span("a"):
        with tr.span("b"):
            pass
        with tr.span("c", tag="x"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("a", None), ("b", 0), ("c", 0)]
    assert tr.spans[2].attrs == {"tag": "x"}
    assert all(s.end >= s.start for s in tr.spans)


def test_event_log_totals_on_recorded_log():
    # recorded from a local[2] session: job group opA ran mapInPandas and a
    # groupBy (its second job re-lists the skipped shuffle-map stage), opB
    # read parquet; the ungrouped jobs before and after are not attributed
    totals = evlog.group_totals(evlog.read_events(DATA / "eventlog.jsonl"))
    assert set(totals) == {"opA", "opB"}
    a, b = totals["opA"], totals["opB"]
    assert (a["spark.jobs"], a["spark.stages"], a["spark.tasks"]) == (2, 2, 5)
    assert (b["spark.jobs"], b["spark.stages"], b["spark.tasks"]) == (2, 2, 3)
    assert a["spark.job_wall_s"] == pytest.approx(2.811, abs=1e-3)
    assert a["spark.task_run_s"] == pytest.approx(5.088)
    assert a["python.run_s"] == pytest.approx(4.41)
    assert a["python.boot_s"] == pytest.approx(2.25)
    assert a["python.init_s"] == pytest.approx(1.54)
    assert (a["python.bytes_sent"], a["python.bytes_returned"]) == (17216, 16704)
    assert (a["spark.shuffle_write_bytes"], a["spark.shuffle_read_bytes"]) == (538, 538)
    assert (a["spark.scan_bytes"], b["spark.scan_bytes"]) == (0, 4520)
    assert b["python.bytes_sent"] == 0


def test_same_rows_is_order_insensitive_and_float_tolerant():
    cols = ["b", "a"]
    assert checks.same_rows(cols, [(1.0, "x"), (2.0, "y")],
                            ["a", "b"], [("y", 2.0 + 1e-12), ("x", 1.0)]) is None
    # equal within tolerance but on either side of a rounding boundary
    assert checks.same_rows(["v"], [(1.2345649999999,), (1.2345651,)],
                            ["v"], [(1.2345651,), (1.2345650000001,)]) is None
    assert checks.same_rows(cols, [(1.0, "x")], cols, [(1.1, "x")]) is not None
    assert checks.same_rows(cols, [(1.0, "x")], ["a", "c"], [("x", 1.0)]) is not None


def test_bpe_reference_merges_most_frequent_pair_first():
    merges = checks.bpe_merges(["aaab ab", "ab"], 2)
    # pairs: aa x2, ab x3 ('aaab' once, 'ab' twice) -> ab first
    assert merges[0] == (1, "a", "b", 3)
    # then words: a a ab (x1), ab (x2): pairs aa x1, a-ab x1 -> tie, 'a','a' < 'a','ab'
    assert merges[1] == (2, "a", "a", 1)


def test_near_dup_pairs_finds_planted_copy_only():
    base = "one two three four five six seven eight"
    texts = {0: base, 1: base + " dup", 2: "nine ten eleven twelve", 3: "x y"}
    assert checks.near_dup_pairs(texts) == {(0, 1)}


def test_near_dup_pairs_counts_shared_shingles_exactly():
    # 6 vs 7 shingles sharing 5: Jaccard 5/8 >= 0.5; sharing 3 of 6+6: 3/9 < 0.5
    texts = {5: "a b c d e f g h", 7: "a b c d e f g h i",
             9: "a b c d e x y z"}
    assert checks.near_dup_pairs(texts) == {(5, 7)}
    assert checks.near_dup_pairs(texts, threshold=0.25) == {(5, 7), (5, 9), (7, 9)}


def test_admission_reference_gates_later_batches_on_accepted_docs():
    # the planted corpus of the engine's own admission-sink test
    base = "alpha beta gamma delta epsilon zeta eta theta"
    b1 = {1: base, 2: base, 3: base.replace("theta", "iota"),
          4: "one two three four five six seven"}
    b2 = {10: base, 11: base.replace("theta", "kappa"),
          12: "totally different words here nothing shared"}
    assert checks.admitted([b1, b2]) == {1, 4, 12}
    # the same docs in one batch: the lowest id of each group survives
    assert checks.admitted([{**b1, **b2}]) == {1, 4, 12}


class _FakeJvm:
    class System:
        @staticmethod
        def gc():
            pass


class _FakeSpark:
    class sparkContext:  # noqa: N801 - mirrors the SparkSession attribute
        _jvm = _FakeJvm


class _Memo:
    """A workload whose single op fills a module-level memo dict."""

    name, tables, memo_min, op_unit = "fake", (), 1, None

    def __init__(self, expected, build_memo=True):
        self.expected, self.build_memo = expected, build_memo

    def ops(self, pass_no, out):
        def op(tr):
            if self.build_memo:
                sys.modules["bigdata2016w_spark.fake"]._FAKE_CACHE[pass_no] = 1
            return 42
        return [("op", "op", op), ("op", "op2", lambda tr: 7)]

    def chain(self, unit):
        return unit

    def prepare_checks(self):
        pass

    def check(self, name, result):
        return None if result in self.expected else f"{result} not expected"


@pytest.fixture
def fake_memo_module(monkeypatch):
    mod = type(sys)("bigdata2016w_spark.fake")
    mod._FAKE_CACHE = {}
    monkeypatch.setitem(sys.modules, "bigdata2016w_spark.fake", mod)
    return mod


def test_wrong_expected_result_counts_in_failures(fake_memo_module, tmp_path):
    runner = app.Runner(_FakeSpark, _Memo(expected={42}), tmp_path)
    runner.run_pass("measured", None)
    assert runner.check_all() == (2, 1)  # op2 returned 7, not an expected value
    runner = app.Runner(_FakeSpark, _Memo(expected={42, 7}), tmp_path)
    runner.run_pass("measured", None)
    assert runner.check_all() == (2, 0)


def test_each_pass_starts_without_earlier_memos(fake_memo_module, tmp_path):
    runner = app.Runner(_FakeSpark, _Memo(expected={42, 7}), tmp_path)
    runner.run_pass("warmup", None)
    runner.run_pass("measured", None)
    assert fake_memo_module._FAKE_CACHE == {1: 1}  # pass 0's entry was cleared
    assert [p["memo_entries"] for p in runner.passes] == [1, 1]


class _Chains(_Memo):
    """Ops in two chains; ``b`` may only run after ``a`` has returned."""

    def ops(self, pass_no, out):
        done = set()

        def a(tr):
            time.sleep(0.2)
            done.add("a")
            return 42

        def b(tr):
            return 42 if "a" in done else 7
        return [("a", "a", a), ("b", "b", b), ("c", "c", lambda tr: 42)]

    def chain(self, unit):
        return "a" if unit == "b" else unit


def test_warmup_runs_chains_side_by_side_and_each_chain_in_order(tmp_path):
    runner = app.Runner(_FakeSpark, _Chains(expected={42}), tmp_path)
    runner.w.memo_min = 0
    runner.run_pass("warmup", None)
    assert sorted(r["name"] for r in runner.records) == ["a", "b", "c"]
    assert [r["name"] for r in runner.records][0] == "c"  # did not wait for a
    assert runner.check_all() == (3, 0)


def test_pass_that_builds_no_memo_fails_loudly(fake_memo_module, tmp_path):
    runner = app.Runner(_FakeSpark, _Memo(expected={42, 7}, build_memo=False), tmp_path)
    with pytest.raises(RuntimeError, match="memo"):
        runner.run_pass("measured", None)


def test_run_refuses_a_directory_without_the_engine(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "graph_fixpoint", "--seed", "1",
                     "--seconds", "1"]) == 2


def test_steal_share_uses_the_eighth_cpu_field():
    before = [0] * 10
    after = [70, 0, 10, 0, 0, 0, 0, 20, 5, 0]  # guest (index 8) excluded
    assert run.steal_share(before, after) == pytest.approx(0.2)
