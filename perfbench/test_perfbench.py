"""Spark-free self-tests of the benchmark: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import layers  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402

BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")


@pytest.mark.parametrize(
    "n,pct", [(1, 50), (10, 50), (20, 50), (21, 52), (40, 75), (100, 90), (1000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert measure.tail_percentile(n) == pct
    if pct > 50:
        assert n * (1 - pct / 100) >= 10 - 1e-9
        assert n * (1 - (pct + 1) / 100) < 10


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert measure.percentile(xs, 50) == 2.5
    assert measure.percentile(xs, 100) == 4.0
    assert measure.percentile(xs, 0) == 1.0
    assert measure.percentile(list(range(101)), 90) == 90


def test_cycle_summary_reports_count_and_percentile():
    cycles = [1.0] * 30 + [5.0] * 10
    out = measure.cycle_summary(cycles)
    assert out["count"] == 40 and out["tail_pct"] == 75
    assert out["p50_s"] == 1.0
    assert out["tail_s"] == pytest.approx(1.0 + 4.0 * 0.25)


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 0, "name": "root", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "a", "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "b", "start": 3.0, "end": 6.0, "parent": 0},  # overlaps a
        {"id": 3, "name": "c", "start": 9.0, "end": 12.0, "parent": 0},  # runs past root
        {"id": 4, "name": "a1", "start": 1.0, "end": 2.0, "parent": 1},
    ]
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_span_recorder_nests_and_keeps_run_id():
    rec = measure.Spans("r1")
    with rec.span("outer"):
        with rec.span("inner"):
            pass
    assert [s["parent"] for s in rec.spans] == [None, 0]
    assert {s["run"] for s in rec.spans} == {"r1"}
    assert all(s["end"] >= s["start"] for s in rec.spans)


def _log(path: str, body: str, mtime: float) -> None:
    with open(path, "w") as fh:
        fh.write(body)
    os.utime(path, (mtime, mtime))


def test_checkpoint_cycles_from_commit_log(tmp_path):
    ck = tmp_path / "ckpt"
    (ck / "offsets").mkdir(parents=True)
    (ck / "commits").mkdir()
    head = 'v1\n{"batchWatermarkMs":0}\n'
    # batches 0 and 1 read new files; batch 2 is a no-data batch (same
    # source offset as batch 1); batch 3 reads again
    offsets = ['{"logOffset":0}', '{"logOffset":1}', '{"logOffset":1}', '{"logOffset":2}']
    commits = [102.0, 103.5, 104.0, 106.0]
    for b, (off, done) in enumerate(zip(offsets, commits)):
        _log(str(ck / "offsets" / str(b)), head + off, done - 1.5)
        _log(str(ck / "commits" / str(b)), "v1\n{}", done)
    (ck / "offsets" / ".0.crc").write_text("")
    assert measure.committed_batches(str(ck)) == 4
    cycles = measure.checkpoint_cycles(str(ck))
    # 100.5 -> 102.0, 102.0 -> 103.5, no-data batch folded: 103.5 -> 106.0
    assert cycles == pytest.approx([1.5, 1.5, 2.5])


def test_every_metric_name_is_valid_and_declared():
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert per_layer == layers.PER_LAYER
    names = list(e2e) + list(per_layer) + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert measure.METRIC_NAME.match(name), name
    assert not measure.METRIC_NAME.match("_leading_underscore")
    assert not measure.METRIC_NAME.match("x" * 65)
    assert {w["name"] for w in bench["workloads"]} <= set(gen.WORKLOADS)


def test_sql_metric_strings_parse_to_base_units():
    assert layers.sql_value("2,156") == 2156
    assert layers.sql_value("236.0 B") == 236
    assert layers.sql_value("5 ms") == pytest.approx(0.005)
    assert layers.sql_value(
        "total (min, med, max (stageId: taskId))\n1.5 MiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 5.0: task 9))"
    ) == 1.5 * 2**20
    assert layers.sql_value("total (min, med, max (stageId: taskId))\n2.0 s (1 ms, ...)") == 2.0
    with pytest.raises(ValueError):
        layers.sql_value("n/a")


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_generator_is_deterministic(tmp_path, workload):
    a = gen.generate(workload, 7, str(tmp_path / "a"), scale=0.05)
    b = gen.generate(workload, 7, str(tmp_path / "b"), scale=0.05)
    c = gen.generate(workload, 8, str(tmp_path / "c"), scale=0.05)
    assert a == b
    files = sorted(os.listdir(tmp_path / "a"))
    assert files and files == sorted(os.listdir(tmp_path / "b"))
    for f in files:
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()
    assert any(
        (tmp_path / "a" / f).read_bytes() != (tmp_path / "c" / f).read_bytes() for f in files
    )


def test_traffic_properties_match_the_design(tmp_path):
    ev = gen.generate("stream_keyed_alerts", 3, str(tmp_path / "e"))
    assert 0.17 < ev["qualifying_share"] < 0.23
    assert 0.05 < ev["hot_key_share"] < 0.15
    assert 60 < ev["events_per_key"] < 75  # the fixture's ~67 events per user
    docs = gen.generate("batch_text_dedup", 3, str(tmp_path / "d"))
    assert 0.1 < docs["near_dup_family_share"] < 0.2
    assert 0.15 < docs["tail_token_share"] < 0.25
    join = gen.generate("stream_interval_join", 3, str(tmp_path / "j"))
    assert 3.5 < join["items_per_order"] < 4.5
    assert 0.6 < join["in_bound_share"] < 0.9


def _record(hashes: dict, progress: list[dict], queries: int = 1) -> dict:
    return {
        "runs": [{"hashes": hashes, "progress": progress, "queries": queries}],
        "traced": [],
        "errors": [],
    }


def test_check_counts_a_planted_hash_mismatch():
    want = {"s03_stream_fraud_alerts": [3, "abc", ["key"]]}
    prog = [{"numInputRows": 5, "stateOperators": [{"numRowsDroppedByWatermark": 0}]}]
    assert run.check(_record(dict(want), prog), want, 5)[:2] == (1, 0)
    bad = {"s03_stream_fraud_alerts": [3, "abd", ["key"]]}
    attempted, failed, reasons = run.check(_record(bad, prog), want, 5)
    assert (attempted, failed) == (1, 1) and "hash" in reasons[0]
    # dropped input rows and watermark drops are failures too
    assert run.check(_record(dict(want), prog), want, 6)[1] == 1
    late = [{"numInputRows": 5, "stateOperators": [{"numRowsDroppedByWatermark": 2}]}]
    assert run.check(_record(dict(want), late), want, 5)[1] == 1


def test_check_counts_each_batch_row_and_unchecked_rows():
    want = {"x07": [1, "a", ["c"]], "x08": [2, "b", ["c"]]}
    # one pass of two catalog rows, each result hashed
    assert run.check(_record(dict(want), [], queries=2), want, 0)[:2] == (2, 0)
    wrong = {"x07": [1, "a", ["c"]], "x08": [2, "z", ["c"]]}
    attempted, failed, reasons = run.check(_record(wrong, [], queries=2), want, 0)
    assert (attempted, failed) == (2, 1) and "x08" in reasons[0]
    # a row whose result was never hashed is a failure, not a pass
    missing = _record({"x07": [1, "a", ["c"]]}, [], queries=2)
    assert run.check(missing, want, 0)[:2] == (3, 1)


def test_main_exits_nonzero_on_a_failed_run(monkeypatch, capsys):
    def fake(workload, seed, seconds, trace, t_start):
        return {"workload": workload, "attempted": 2, "failed": 1,
                "metrics": {"wall_s": {"value": 1.0, "unit": "s"}}}

    monkeypatch.setattr(run, "run_workload", fake)
    monkeypatch.setattr(run, "_engine_present", lambda: True)
    assert run.main(["--workload", "batch_text_dedup", "--seed", "1"]) == 1
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is False and last["failed"] == 1


def test_main_reports_a_crashed_engine_as_failed(monkeypatch, capsys):
    def crash(workload, seed, seconds, trace, t_start):
        raise RuntimeError("engine process exited with 1")

    monkeypatch.setattr(run, "run_workload", crash)
    monkeypatch.setattr(run, "_engine_present", lambda: True)
    assert run.main(["--workload", "stream_keyed_alerts"]) == 1
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert last["correct"] is False and last["attempted"] == last["failed"] == 1


def test_main_refuses_to_run_without_the_engine(monkeypatch, capsys):
    monkeypatch.setattr(run, "_engine_present", lambda: False)
    assert run.main(["--workload", "batch_text_dedup"]) == 2
    assert capsys.readouterr().out == ""
