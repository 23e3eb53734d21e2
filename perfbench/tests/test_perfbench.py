"""Tests of the benchmark's own tooling (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, metrics  # noqa: E402


def _task(stage, run_ms, cpu_ns=0, gc=0, read=(0, 0), written=0, spilled=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": spilled,
            "Shuffle Read Metrics": {"Remote Bytes Read": read[0], "Local Bytes Read": read[1]},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


def _job(job_id, stages, group=None, batch=None):
    props = {}
    if group is not None:
        props[eventlog.GROUP_KEY] = group
    if batch is not None:
        props[eventlog.BATCH_KEY] = batch
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": props}


def _write_zstd(path, events):
    data = "".join(json.dumps(e) + "\n" for e in events).encode()
    with pa.CompressedOutputStream(pa.OSFile(str(path), "wb"), "zstd") as f:
        f.write(data)


@pytest.fixture
def rolling_log(tmp_path):
    """A two-part rolling zstd log: two layer groups, one job without a
    group, and a streaming query's jobs over two micro-batches."""
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    part1 = [
        {"Event": "SparkListenerApplicationStart"},
        _job(0, [0, 1], group="lsh"),
        _task(0, 10, cpu_ns=4_000_000, gc=1, written=100),
        _task(0, 30, cpu_ns=6_000_000, written=50),
        _task(1, 20, read=(5, 7), spilled=3),
        _job(1, [2]),
        _task(2, 999),
    ]
    part2 = [
        _job(2, [1, 3], group="verify"),  # stage 1 already belongs to lsh
        _task(3, 5),
        _task(3, 5),
        _task(3, 20),
        _job(3, [4], group="run-1", batch="0"),
        _job(4, [5], group="run-1", batch="0"),
        _job(5, [6], group="run-1", batch="1"),
        _task(4, 1),
    ]
    # part 10 sorts before part 2 by name; the reader orders by index
    _write_zstd(app / "events_1_local-1.zstd", part1)
    _write_zstd(app / "events_2_local-1.zstd", part2)
    _write_zstd(app / "events_10_local-1.zstd", [_job(6, [7], group="verify")])
    (app / "appstatus_local-1").write_text("")
    (app / ".events_1_local-1.zstd.crc").write_bytes(b"\x00")
    return tmp_path


def test_log_files_order_parts_by_index(rolling_log):
    names = [os.path.basename(p) for p in eventlog.log_files(str(rolling_log))]
    assert names == ["events_1_local-1.zstd", "events_2_local-1.zstd", "events_10_local-1.zstd"]


def test_aggregate_groups_tasks_by_first_job(rolling_log):
    groups = eventlog.aggregate(eventlog.iter_events(str(rolling_log)))
    assert set(groups) == {"lsh", "verify", "run-1"}
    lsh = groups["lsh"]
    assert (lsh.jobs, lsh.tasks, lsh.task_ms, lsh.gc_ms) == (1, 3, 60, 1)
    assert lsh.cpu_ms == pytest.approx(10.0)
    assert (lsh.shuffle_read_bytes, lsh.shuffle_write_bytes, lsh.spill_bytes) == (12, 150, 3)
    # heaviest stage of lsh is stage 0: run times 10 and 30
    assert lsh.task_skew() == pytest.approx(30 / 20)
    verify = groups["verify"]
    assert (verify.jobs, verify.tasks, verify.task_ms) == (2, 3, 30)
    assert verify.task_skew() == pytest.approx(20 / 5)
    stream = groups["run-1"]
    assert stream.jobs == 3 and stream.tasks == 1
    assert dict(stream.batch_jobs) == {"0": 2, "1": 1}
    assert stream.jobs_per_batch() == 1.5


def test_empty_group_reads_zero():
    g = eventlog.GroupStats()
    assert g.task_skew() == 0.0 and g.jobs_per_batch() == 0.0


def test_plain_log_file_is_read(tmp_path):
    (tmp_path / "local-2").write_text(
        json.dumps(_job(0, [0], group="exact")) + "\n" + json.dumps(_task(0, 7)) + "\n"
    )
    groups = eventlog.aggregate(eventlog.iter_events(str(tmp_path)))
    assert groups["exact"].task_ms == 7


@pytest.mark.parametrize(
    "n, q",
    [(1, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
     (199, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_top_percentile_leaves_ten_samples_beyond(n, q):
    assert metrics.top_percentile(n) == q


def test_summarize_reports_median_and_supported_percentile():
    s = metrics.summarize([float(x) for x in range(1, 41)])
    assert (s["n"], s["median"], s["top_q"]) == (40, 20.5, 75)
    assert s["top_value"] == pytest.approx(30.25)
    small = metrics.summarize([3.0, 1.0, 2.0])
    assert (small["median"], small["top_q"], small["top_value"]) == (2.0, None, None)


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_use_the_allowed_charset():
    bench = _benchmark_json()
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in bench[key]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert metrics.check_name(name) == name
    for bad in ("", "_lead", "a b", "x/y", "a" * 65, "é"):
        with pytest.raises(ValueError):
            metrics.check_name(bad)


def test_benchmark_json_lists_the_catalogue():
    bench = _benchmark_json()
    assert bench["per_layer"] == metrics.per_layer_catalogue()
    assert len(bench["per_layer"]) <= 128


def test_run_refuses_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command exits non-zero
    and prints no result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "near_dup_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
