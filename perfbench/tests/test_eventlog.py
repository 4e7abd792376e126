"""The event-log layer parser on a trimmed real Spark 4.1 log.

The fixture is a local[2] extraction run (40 cc docs) cut down to the
events and fields the parser reads: jobs 1-2 run under group
``extract``, job 3 under ``extract.write``, job 0 is untagged, and
one failed attempt of the last task is appended.

Run: python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import eventlog  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "events_small.jsonl")
MB = 1 << 20


@pytest.fixture(scope="module")
def totals():
    return eventlog.group_totals(eventlog.read_events(FIXTURE))


def test_groups(totals):
    assert set(totals) == {None, "extract", "extract.write"}
    assert totals[None].tasks == 2
    assert totals["extract"].tasks == 3
    assert totals["extract.write"].tasks == 3
    assert totals["extract.write"].failed_tasks == 1


def test_executor_and_io(totals):
    ex = totals["extract"]
    assert ex.run_s == pytest.approx((75 + 538 + 539) / 1e3)
    assert ex.cpu_s == pytest.approx((8020573 + 239359369 + 439633779) / 1e9)
    assert ex.gc_s == pytest.approx((11 + 25 + 25) / 1e3)
    # driver-side "size of files read" of execution 1 (jobs 1-3)
    assert ex.input_mb == pytest.approx(274155 / MB)
    assert totals["extract.write"].input_mb == 0
    assert ex.spill_mb == 0
    wr = totals["extract.write"]
    assert wr.output_mb == pytest.approx((196298 + 2 * 118791) / MB)


def test_shuffle_and_skew(totals):
    ex = totals["extract"]
    assert ex.shuffle_write_mb == pytest.approx((133783 + 116800) / MB)
    assert ex.shuffle_write_s == pytest.approx((13369640 + 16811527) / 1e9)
    assert ex.reduce_records == {}
    wr = totals["extract.write"]
    assert wr.shuffle_read_mb == pytest.approx((178000 + 2 * 72583) / MB)
    assert wr.fetch_wait_s == 0
    assert {s: sorted(r) for s, r in wr.reduce_records.items()} == \
        {4: [12, 12, 28]}
    assert wr.skew() == pytest.approx(28 / 12)


def test_python_worker_accumulables(totals):
    py = totals["extract.write"].py
    assert py["py_start_s"] == pytest.approx((1457 + 2 * 1463) / 1e3)
    assert py["py_init_s"] == pytest.approx((566 + 2 * 758) / 1e3)
    assert py["py_run_s"] == pytest.approx((2433 + 2 * 2617) / 1e3)
    assert py["to_py_mb"] == pytest.approx((388640 + 2 * 180800) / MB)
    assert py["from_py_mb"] == pytest.approx((347680 + 2 * 191568) / MB)
    assert all(v == 0 for v in totals["extract"].py.values())


def test_plan_declared_unit_wins():
    events = list(eventlog.read_events(FIXTURE))
    for ev in events:
        stack = [ev.get("sparkPlanInfo") or {}]
        while stack:
            node = stack.pop()
            for m in node.get("metrics", ()):
                if m["name"] == "time to run Python workers":
                    m["metricType"] = "nsTiming"
            stack.extend(node.get("children", ()))
    py = eventlog.group_totals(events)["extract.write"].py
    assert py["py_run_s"] == pytest.approx((2433 + 2 * 2617) / 1e9)


def test_merged_prefix(totals):
    both = eventlog.merged(totals, "extract")
    assert both.tasks == 6
    assert both.run_s == pytest.approx(totals["extract"].run_s
                                       + totals["extract.write"].run_s)
    assert eventlog.merged(totals, "extract.w").tasks == 3


def test_rolled_v2_dir_reads_in_index_order(tmp_path, totals):
    lines = open(FIXTURE, encoding="utf-8").read().splitlines(True)
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    # Lexical order would read events_10 before events_9.
    (app / "events_9_local-1").write_text("".join(lines[:9]))
    (app / "events_10_local-1").write_text("".join(lines[9:]))
    (app / "appstatus_local-1").write_text("")
    rolled = eventlog.group_totals(eventlog.read_events(str(tmp_path)))
    assert {g: t.tasks for g, t in rolled.items()} == \
        {g: t.tasks for g, t in totals.items()}
    assert rolled["extract.write"].py == totals["extract.write"].py


def test_json_lines_are_spark_events():
    with open(FIXTURE, encoding="utf-8") as fh:
        first = json.loads(fh.readline())
    assert first == {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"}
