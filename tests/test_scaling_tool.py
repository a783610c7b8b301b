"""tools/scaling.py's arithmetic over canned run records (driverless)."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import scaling  # noqa: E402


def test_levels_are_a_quarter_and_all_of_the_machine():
    assert scaling.levels(4) == (1, 4)
    assert scaling.levels(32) == (8, 32)
    assert scaling.levels(6) == (1, 4)


def test_fewer_than_four_cpus_exits_with_a_message():
    with pytest.raises(SystemExit) as exc:
        scaling.levels(3)
    assert "at least 4 CPUs" in str(exc.value.code)


def test_levels_alternate_run_by_run():
    assert scaling.schedule(1, 4, 3) == [1, 4, 1, 4, 1, 4]


def _job(level, process_s, wall_s, triples=1000, actions=(("take (reads src)", 1.0),)):
    return {"level": level, "process_s": process_s, "wall_s": wall_s,
            "triples": triples, "steal_pct": 0.0, "actions": [list(a) for a in actions]}


def _ceiling(level, tasks_per_s):
    return {"level": level, "wall_s": 1.0, "tasks_per_s": tasks_per_s, "steal_pct": 0.0}


def test_each_level_keeps_its_fastest_run_and_efficiency_follows():
    runs = [_job(1, 50.0, 40.0), _job(4, 20.0, 12.0),
            _job(1, 48.0, 41.0), _job(4, 22.0, 11.0),
            _job(1, 55.0, 44.0), _job(4, 21.0, 13.0)]
    ceiling = [_ceiling(1, 1.0), _ceiling(4, 3.0), _ceiling(1, 1.2), _ceiling(4, 3.6)]
    s = scaling.summarize(1, 4, runs, ceiling)
    # min of k per level, each measure on its own
    assert s["process_s"] == {1: 48.0, 4: 20.0}
    assert s["wall_s"] == {1: 40.0, 4: 11.0}
    assert s["triples"] == 1000
    # thr4 / (4 * thr1) = T1 / (4 * T4) when both levels write the same triples
    assert s["eff_process"] == pytest.approx(48.0 / 80.0)
    assert s["eff_job"] == pytest.approx(40.0 / 44.0)
    # the ceiling keeps the best throughput per level
    assert s["ceiling"] == {1: 1.2, 4: 3.6}
    assert s["eff_ceiling"] == pytest.approx(0.75)
    report = scaling.report(s, runs, ceiling, 4)
    assert "0.600" in report and "0.909" in report and "0.750" in report


def test_time_splits_into_parts_with_their_excess():
    acts = {1: (("take (reads src)", 8.0), ("parquet (reads src)", 24.0)),
            4: (("take (reads src)", 5.0), ("parquet (reads src)", 6.0))}
    runs = [_job(1, 40.0, 34.0, actions=acts[1]), _job(4, 20.0, 12.0, actions=acts[4])]
    s = scaling.summarize(1, 4, runs, [_ceiling(1, 1.0), _ceiling(4, 3.0)])
    # excess = t4 - t1 / 4: what each part costs beyond perfect scaling
    assert s["parts"] == [
        ["start-up and stop outside the job", 6.0, 8.0, pytest.approx(6.5)],
        ["action 0: take (reads src)", 8.0, 5.0, pytest.approx(3.0)],
        ["action 1: parquet (reads src)", 24.0, 6.0, pytest.approx(0.0)],
        ["driver outside Spark actions", 2.0, 1.0, pytest.approx(0.5)],
    ]
    # the excesses add up to the process time missing from perfect scaling
    assert sum(p[3] for p in s["parts"]) == pytest.approx(20.0 - 40.0 / 4)
    assert "start-up and stop outside the job: 6.50 s of the 10.00 s" in (
        scaling.report(s, runs, [_ceiling(1, 1.0), _ceiling(4, 3.0)], 4))


def test_levels_that_ran_different_actions_are_refused():
    runs = [_job(1, 40.0, 34.0), _job(4, 20.0, 12.0, actions=(("count (reads sink)", 1.0),))]
    with pytest.raises(ValueError, match="different Spark actions"):
        scaling.summarize(1, 4, runs, [_ceiling(1, 1.0), _ceiling(4, 3.0)])


def test_actions_come_from_the_event_log_in_issue_order(tmp_path):
    def start(i, desc, t, plan):
        return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                "executionId": i, "description": desc, "time": t,
                "physicalPlanDescription": plan}

    def end(i, t):
        return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
                "executionId": i, "time": t}

    work = tmp_path / "w"
    write = (f"(1) Scan parquet\nLocation: InMemoryFileIndex [file:{work}/src]\n\n"
             "(2) Execute InsertIntoHadoopFsRelationCommand\nInput: []\n"
             f"Arguments: file:{work}/run/sink, false, Parquet, Overwrite\n")
    events = [start(1, "parquet at NativeMethodAccessorImpl.java:0", 5000, write),
              start(0, "take at /x/y/fused.py:888", 1000,
                    f"Location: InMemoryFileIndex [file:{work}/src]"),
              start(2, "count at NativeMethodAccessorImpl.java:0", 6000, "LocalTableScan"),
              end(0, 3500), end(1, 5250), end(2, 6010), {"Event": "SparkListenerJobStart"}]
    log = tmp_path / "events"
    log.write_text("\n".join(map(json.dumps, events)))
    assert scaling.actions(str(log), str(work)) == [
        ["take at fused.py:888 (reads src)", 2.5],
        ["parquet at NativeMethodAccessorImpl.java:0 (reads src, writes run/sink)", 0.25],
        ["count at NativeMethodAccessorImpl.java:0", 0.01],
    ]


def test_unequal_triple_counts_between_levels_are_refused():
    runs = [_job(1, 50.0, 40.0, triples=1000), _job(4, 20.0, 12.0, triples=999)]
    with pytest.raises(ValueError, match="triple counts differ"):
        scaling.summarize(1, 4, runs, [_ceiling(1, 1.0), _ceiling(4, 3.0)])


def test_a_level_without_runs_is_refused():
    with pytest.raises(ValueError, match="triple counts differ"):
        scaling.summarize(1, 4, [_job(1, 50.0, 40.0)], [_ceiling(1, 1.0), _ceiling(4, 3.0)])
