"""The benchmark's own tests: statistics, span arithmetic, plan parsing,
generator determinism, and (with a Spark session) that inputs of a seed
never used while tuning still pass the output checks.

    python3 -m pytest jetrobench/test_bench.py -q
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import stats  # noqa: E402
from sparkstats import final_plan_joins  # noqa: E402
from spans import Span, Tracer, covered, self_time_by_op, self_times  # noqa: E402

# ------------------------------------------------------------------ stats


def test_tail_omitted_below_ten_beyond():
    # 39 samples: the 75th percentile's nearest rank leaves 9 beyond it
    assert stats.tail([float(i) for i in range(39)]) is None
    assert stats.tail([1.0] * 10) is None


def test_tail_has_ten_beyond_and_names_its_percentile():
    values = [float(i) for i in range(1, 101)]
    pct, v = stats.tail(values)
    assert pct == 90 and v == 90.0
    assert sum(x > v for x in values) >= stats.MIN_BEYOND
    pct, v = stats.tail([float(i) for i in range(40)])
    assert pct == 75


def test_tail_never_below_median():
    rng = random.Random(3)
    for n in (40, 41, 57, 100, 333):
        for _ in range(50):
            values = [rng.lognormvariate(0, 1) for _ in range(n)]
            pct, v = stats.tail(values)
            assert pct >= stats.MIN_TAIL_PCT
            assert v >= stats.median(values)
            assert sum(x > v for x in values) >= stats.MIN_BEYOND


def test_quartiles_match_statistics_module():
    import statistics

    values = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    assert list(stats.quartiles(values)) == statistics.quantiles(values, n=4)
    assert stats.spread([2.0, 2.0, 2.0]) == 0.0


# ------------------------------------------------------------------ spans


def test_covered_merges_and_clips():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert covered([(0, 5)], 2, 3) == 1
    assert covered([], 0, 1) == 0


def test_self_time_subtracts_children_only():
    spans = [
        Span("op", 0.0, 10.0, None, 1),
        Span("a", 1.0, 4.0, 0, 1),
        Span("b", 3.0, 6.0, 0, 1),  # overlaps a: union of children is 1..6
        Span("c", 2.0, 3.0, 1, 1),  # grandchild: not subtracted from op
    ]
    assert self_times(spans) == [5.0, 2.0, 3.0, 1.0]
    assert self_time_by_op(spans)[1] == {"op": 5.0, "a": 2.0, "b": 3.0, "c": 1.0}


def test_tracer_wraps_only_while_on():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tr = Tracer()
    tr.wrap(mod, "f", "layer")
    assert mod.f(1) == 2 and tr.spans == []
    tr.on = True
    with tr.span("op", 7):
        assert mod.f(2) == 3
    tr.on = False
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [("op", None, 7), ("layer", 0, 7)]


# ------------------------------------------------------------ plan parser

PLAN = """== Physical Plan ==
OverwriteByExpression (23)
+- AdaptiveSparkPlan (22)
   +- == Final Plan ==
      ResultQueryStage (15)
      +- * HashAggregate (14)
         +- * BroadcastHashJoin Inner BuildRight (8)
            :- * Project (3)
            +- BroadcastQueryStage (7)
               +- * SortMergeJoin Inner (6)
   +- == Initial Plan ==
      HashAggregate (21)
      +- SortMergeJoin Inner (17)
         +- BroadcastHashJoin Inner BuildRight (16)


(1) Range [codegen id : 2]
(8) BroadcastHashJoin
"""


def test_final_plan_joins_skip_initial_plan_and_details():
    assert final_plan_joins(PLAN) == (1, 1)


# -------------------------------------------------------------- generator


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.fixture()
def tmp():
    d = tempfile.mkdtemp(dir=HERE, prefix=".test-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


SMALL = gen.TableScale(orders=300, parts=50, suppliers=10, customers=40, embeddings=40)


def test_same_seed_same_bytes(tmp):
    for run in ("a", "b"):
        gen.write_tables(5, SMALL, os.path.join(tmp, run, "tables"))
        gen.make_vendor_cases(5, os.path.join(tmp, run, "cases"))
    a, b = _digest(os.path.join(tmp, "a")), _digest(os.path.join(tmp, "b"))
    assert a and a == b


def test_other_seed_other_bytes(tmp):
    gen.write_tables(5, SMALL, os.path.join(tmp, "a"))
    gen.write_tables(6, SMALL, os.path.join(tmp, "b"))
    a, b = _digest(os.path.join(tmp, "a")), _digest(os.path.join(tmp, "b"))
    assert a.keys() == b.keys() and all(a[k] != b[k] for k in a)
    ca = gen.make_vendor_cases(5, os.path.join(tmp, "ca"))
    cb = gen.make_vendor_cases(6, os.path.join(tmp, "cb"))
    assert [c.control_grid for c in ca] != [c.control_grid for c in cb]
    assert _digest(os.path.join(tmp, "ca")) != _digest(os.path.join(tmp, "cb"))


def test_cases_cover_sent_error_and_remaps(tmp):
    cases = gen.make_vendor_cases(11, tmp)
    assert [c.runner for c in cases] == [v[0] for v in gen.VENDORS]
    assert sorted(c.expected_status for c in cases).count("ERROR") == 2
    price = next(c for c in cases if c.runner == "247").dlpm
    stores = {s for s, _, _ in price}
    assert "498" in stores and not stores & {"490", "457", "453"}


# ---------------------------------------------------- checks on a new seed


@pytest.fixture(scope="module")
def spark_env():
    work = tempfile.mkdtemp(dir=HERE, prefix=".test-spark-")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import run

    spark = run.start_session(work)
    from sparkstats import StatusReader
    from workloads import Env

    yield Env(spark, work, StatusReader(spark), Tracer())
    run.stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)


def test_new_seed_supplier_batch_passes_checks(spark_env):
    from workloads import Op, SupplierBatch

    wl = SupplierBatch(spark_env)
    wl.setup(97)
    ops = []
    for i, m in enumerate(wl.members):
        op = Op(m, i, 0, False)
        wl.run(op)
        assert op.error is None, op.error
        ops.append(op)
    assert all(p == [] for p in wl.check(ops).values())
    wl.cleanup_all()


def test_new_seed_catalog_passes_oracles(spark_env):
    from run import WORKLOADS
    from workloads import TABLE_SCALES, Catalog, Op

    members = WORKLOADS["catalog_build"] + WORKLOADS["catalog_exec"]
    wl = Catalog(spark_env, members, TABLE_SCALES["catalog_build"])
    wl.setup(97)
    ops = [Op(m, i, -1, False, collect=True) for i, m in enumerate(members)]
    for op in ops:
        wl.run(op)
        assert op.error is None, op.error
    assert wl.check(ops) == {m: [] for m in members}


# ------------------------------------------------------------------- diff


def test_diff_labels_contention_and_names_the_layer():
    import diff

    def rec(wall, cpu, build):
        return {"workload": "w", "trace": 1,
                "metrics": {"wall_s": wall, "cpu_s": cpu, "plans.build_s": build, "sinks.pdf_s": 0.1}}

    a = [rec(10 + i / 100, 5 + i / 100, 8.0 + i / 100) for i in range(5)]
    b = [rec(12 + i / 100, 5 + i / 100, 9.5 + i / 100) for i in range(5)]
    out = diff.compare(("w", 1), a, b)
    assert any("verdict: contention" in line for line in out)
    assert any(line.strip().startswith("layer that moved most: plans.build_s") for line in out)
    b = [rec(12 + i / 100, 6 + i / 100, 9.5) for i in range(5)]
    assert any("verdict: code" in line for line in diff.compare(("w", 1), a, b))


def test_wrap_action_plans_then_executes_once():
    planned = []

    class QE:
        def executedPlan(self):
            planned.append(1)

    class JDF:
        def queryExecution(self):
            return QE()

    class Frame:
        _jdf = JDF()

        def collect(self):
            return self.count()

        def count(self):
            return 3

    tr = Tracer()
    tr.wrap_action(Frame, "collect", lambda f: f._jdf)
    tr.wrap_action(Frame, "count", lambda f: f._jdf)
    assert Frame().collect() == 3 and tr.spans == [] and planned == []
    tr.on = True
    assert Frame().collect() == 3
    assert [s.name for s in tr.spans] == ["spark.plan", "spark.exec"] and planned == [1]
