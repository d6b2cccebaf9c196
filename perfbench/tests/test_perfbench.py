"""Tests of the benchmark itself: payload generator, reference model and
output check. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import workflow  # noqa: E402
from econdatapipeline_spark.registry import EDB_SPECS, FRED_SPECS, NYU_SPEC  # noqa: E402

KINDS = (EDB_SPECS[0], EDB_SPECS[2], FRED_SPECS[0], FRED_SPECS[8], NYU_SPEC)


@pytest.mark.parametrize("spec", KINDS, ids=lambda s: s.name)
def test_generator_is_deterministic_per_seed(spec):
    a, b, c = (workflow.generate(spec, s) for s in (7, 7, 8))
    assert a[0].payload == b[0].payload and a[1].payload == b[1].payload
    assert a[0].rows == b[0].rows and a[1].rows == b[1].rows
    assert a[1].payload != c[1].payload


@pytest.mark.parametrize("spec", KINDS, ids=lambda s: s.name)
def test_incremental_batch_revises_nudges_and_extends(spec):
    cold, incr = workflow.generate(spec, 3)
    exp = workflow.Expected()
    workflow.merge(exp, spec, cold.rows, run.RUN1)
    workflow.merge(exp, spec, incr.rows, run.RUN2)
    assert exp.counts["new"] > 0 and exp.counts["revisions"] >= exp.counts["updated"] > 0
    for _, _, _, old, new, _ in exp.revisions:
        assert abs(new - old) > 4 * workflow.TOLERANCE
    shared = set(cold.rows) & set(incr.rows)
    nudged = [d for d in shared if cold.rows[d] != incr.rows[d]
              and all(abs(a - b) <= 1e-4 + 1e-12 for a, b in zip(cold.rows[d], incr.rows[d]))]
    if spec.value_type != "long":
        assert nudged, "no below-tolerance change to exercise"


def test_reference_model_on_changed_refetch():
    # tests/test_pipeline.py::test_revision_on_changed_refetch payloads
    spec = FRED_SPECS[0]
    exp = workflow.Expected()
    jan, feb, mar = dt.date(2024, 1, 1), dt.date(2024, 2, 1), dt.date(2024, 3, 1)
    workflow.merge(exp, spec, {jan: (1.5,), feb: (2.5,)}, run.RUN1)
    assert exp.counts == {"new": 2, "updated": 0, "revisions": 0}
    workflow.merge(exp, spec, {jan: (1.5,), feb: (9.9,), mar: (3.5,)}, run.RUN2)
    assert exp.counts == {"new": 1, "updated": 1, "revisions": 1}
    assert [(r[3], r[4]) for r in exp.revisions] == [(2.5, 9.9)]
    assert exp.table == {jan: (1.5,), feb: (9.9,), mar: (3.5,)}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    run.isolate(work)
    session = run.start_session(work, trace=False)
    yield session
    run.stop_session(session)


def test_check_flags_one_altered_value(spark, tmp_path):
    specs = run.choose_specs(5)
    root = str(tmp_path / "wh")
    res = run.refresh(spark, root, specs, 5, n_reads=6)
    assert res["failures"] == [] and res["attempted"] == 2 * len(specs) + 6

    copy = str(tmp_path / "copy")
    shutil.copytree(root, copy)
    spec = specs[0]
    part = sorted(glob.glob(os.path.join(copy, spec.name, "*.parquet")))[0]
    table = pq.read_table(part)
    col = spec.value_column
    values = table.column(col).to_pylist()
    values[0] = values[0] + 1
    pq.write_table(table.set_column(table.schema.get_field_index(col), col,
                                    pa.array(values, table.schema.field(col).type)), part)

    def failed_frac(path):
        failed = [s for s in specs if workflow.check_dataset(
            path, s, res["details"][s.name], res["expected"][s.name], run.RUN2)]
        return len(failed) / len(specs)

    assert failed_frac(root) == 0
    assert failed_frac(copy) > 0
