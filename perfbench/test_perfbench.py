"""Unit tests for the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]

import analytics_batch  # noqa: E402
import datagen  # noqa: E402
import dml_mixed  # noqa: E402
import stats  # noqa: E402
from harness import Op, OpFailed, Run  # noqa: E402
from tracing import Span, attribute, coverage, read_event_log, self_times  # noqa: E402


@pytest.fixture(scope="module")
def tiny_data(tmp_path_factory):
    """The generated tables at sf0.001 (150 accounts, 1,500 orders)."""
    return datagen.ensure_tables(str(tmp_path_factory.mktemp("data")), 0.001)


def _model(data) -> dml_mixed.Model:
    m = dml_mixed.Model(data, max_ts=10**18)
    m.stamp_bulk(5, 6)
    return m


def test_seeded_parameters_are_deterministic(tiny_data):
    def rounds(seed: int) -> list[dict]:
        rng, m = random.Random(seed), _model(tiny_data)
        out = []
        for _ in range(3):
            plan = dml_mixed.plan_round(rng, m)
            for i in plan["delete"]:  # later rounds draw from fewer
                m.delete(i, ts=100)
            out.append(plan)
        return out

    assert rounds(11) == rounds(11)
    assert rounds(11) != rounds(12)
    plan = rounds(11)[0]
    touched = {plan["update"][0], plan["connect_old"][0], *plan["delete"]}
    assert len(touched) == 4


@pytest.mark.parametrize("n, expected", [
    (19, None),    # even the median has only 9 samples beyond it
    (20, 50.0),
    (39, 50.0),
    (40, 75.0),
    (99, 75.0),    # p90 would leave 9 beyond
    (100, 90.0),
    (199, 90.0),
    (200, 95.0),
    (1000, 99.0),  # p99.9 would leave 1 beyond
])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_nearest_rank_percentile():
    xs = [float(x) for x in range(1, 101)]
    random.Random(3).shuffle(xs)
    assert stats.percentile(xs, 90) == 90.0
    assert stats.percentile(xs, 50) == 50.0
    assert stats.percentile([7.0], 99) == 7.0


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("root", 0.0, 100.0),
        Span("a", 10.0, 30.0, parent=0),
        Span("b", 20.0, 50.0, parent=0),   # overlaps a: union 10..50
        Span("c", 70.0, 80.0, parent=0),
        Span("a.1", 12.0, 15.0, parent=1),
    ]
    assert self_times(spans) == [50.0, 17.0, 30.0, 10.0, 3.0]
    assert coverage(spans, 0.0, 200.0) == pytest.approx(0.5)


def _events(tmp_path) -> str:
    """A small event log in Spark's JSON-lines format: three jobs, one of
    them submitted between spans, one stage skipped."""
    ev = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 900},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1005,
         "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1020,
         "Stage IDs": [2]},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1500,
         "Stage IDs": [3]},
    ]
    for stage, launch, run, cpu, rd, wr, failed in [
        (0, 1006, 10, 8_000_000, 0, 2048, False),
        (0, 1006, 12, 9_000_000, 0, 1024, True),
        (2, 1021, 30, 25_000_000, 4096, 0, False),
        (3, 1501, 5, 1_000_000, 0, 0, False),
    ]:
        ev.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": launch + run + 4,
                          "Failed": failed, "Getting Result Time": 0},
            "Task Metrics": {
                "Executor Run Time": run, "Executor CPU Time": cpu,
                "Executor Deserialize Time": 1, "Result Serialization Time": 1,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": rd},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": wr},
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            },
        })
    ev += [{"Event": "SparkListenerJobEnd", "Job ID": i, "Completion Time": 1600}
           for i in range(3)]
    d = tmp_path / "eventlog"
    d.mkdir()
    (d / "local-1").write_text("\n".join(json.dumps(e) for e in ev) + "\n")
    return str(d)


def test_event_log_jobs_attributed_to_innermost_span(tmp_path):
    jobs, stages = read_event_log(_events(tmp_path))
    assert [j.id for j in jobs] == [0, 1, 2]
    assert jobs[0].stages == [0, 1] and jobs[0].end == 1600
    assert stages[0].tasks == 2 and stages[0].failed_tasks == 1
    assert stages[0].shuffle_write == 3072 and stages[2].shuffle_read == 4096
    assert stages[0].sched_delay_ms == pytest.approx(4.0)  # 2 ms per task
    assert 1 not in stages  # skipped stage: no tasks ran
    spans = [
        Span("op:read", 1000.0, 1100.0),
        Span("match.construct", 1001.0, 1010.0, parent=0),
        Span("spark.execute", 1010.0, 1090.0, parent=0),
    ]
    assert attribute(jobs, spans) == {0: 1, 1: 2, 2: None}


def test_wrong_analytics_row_fails_its_ops(tiny_data):
    import duckdb

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tiny_data}/{t}.parquet'")
    oracles = analytics_batch._oracles()
    frames = {}
    for name in analytics_batch.ROWS:
        cur = con.execute(oracles[name])
        frames[name] = ([c[0] for c in cur.description], cur.fetchall())
    con.close()
    good, bad = analytics_batch.ROWS
    cols, rows = frames[bad]
    assert rows, "the oracle returns rows at sf0.001"
    frames[bad] = (cols, rows[1:] + [tuple(-1 for _ in cols)])  # one wrong row
    run = Run(None, random.Random(0), 1.0, str(tiny_data))
    run.ops = [Op(good, 1.0), Op(bad, 1.0), Op(good, 1.0), Op(bad, 1.0)]
    analytics_batch.verify(run, {"data_dir": tiny_data, "outputs": frames, "wrong": None})
    assert [o.ok for o in run.ops] == [True, False, True, False]
    assert "2 rows differ" in run.ops[1].error


def test_failed_check_inside_an_op_is_counted_not_raised():
    run = Run(None, random.Random(0), 1.0, ".")
    with run.op("read"):
        raise OpFailed("model has 3 rows")
    with run.op("read"):
        pass
    assert [o.ok for o in run.ops] == [False, True]
    assert "model has 3 rows" in run.ops[0].error


def test_model_versions_and_as_of(tiny_data):
    m = _model(tiny_data)
    before = m.read(range(3))
    m.update(1, 42.0, ts=10)
    m.delete(2, ts=11)
    now = m.read(range(3))
    assert all(r[1] == 42.0 for r in now if r[0] == 1)
    assert not any(r[0] == 2 for r in now)
    assert m.read(range(3), vt=9) == before  # AS OF before both writes
    m.create(m.next_id, 1.0, ts=12)
    assert m.next_id == 151


def _play_round(data, lose: str | None = None):
    """One round's writes on a model, in the loop's order, and what its
    current read and its AS OF read (between the update and the second
    delete) return.  ``lose`` names a write the model misses, like an
    engine that lost it."""
    m = _model(data)
    plan = dml_mixed.plan_round(random.Random(7), m)
    (i, bal), (src, tgt), (d1, d2) = plan["update"], plan["connect_old"], plan["delete"]
    if lose != "delete":
        m.delete(d1, ts=9)
    if lose != "update":
        m.update(i, bal, ts=10)
    m.connect(src, tgt)
    m.delete(d2, ts=12)
    lo, hi, extra = dml_mixed.read_ids(m, [d1, i, src, d2])
    ids = [*range(lo, hi), *extra]
    return m.read(ids), m.read(ids, vt=11), (d1, i, d2)


@pytest.mark.parametrize("lose", ["update", "delete"])
def test_reads_catch_a_lost_write(tiny_data, lose):
    engine_now, engine_asof, _ = _play_round(tiny_data, lose)
    model_now, model_asof, _ = _play_round(tiny_data)
    with pytest.raises(OpFailed):
        dml_mixed.check(engine_now, model_now, "read")
    with pytest.raises(OpFailed):
        dml_mixed.check(engine_asof, model_asof, "asof_read")
    dml_mixed.check(model_asof, model_asof, "asof_read")


def test_as_of_read_separates_the_versions(tiny_data):
    now, asof, (d1, upd, d2) = _play_round(tiny_data)
    by_id = lambda rows: {r[0]: r[1] for r in rows}  # noqa: E731
    assert d1 not in by_id(asof) and d1 not in by_id(now)
    assert d2 in by_id(asof) and d2 not in by_id(now)
    assert by_id(asof)[upd] == by_id(now)[upd]  # the newer version
