"""Unit tests of the benchmark's own parsers on tiny fixtures.

    python3 -m pytest steadybench/tests -q
"""

from __future__ import annotations

import json
import pathlib

import pytest

from steadybench import eventlog, procstat


def _ev(**kw) -> str:
    return json.dumps(kw)


def _task(stage, launch, finish, run_ms, gc_ms, peak, shuffle, failed=False):
    return _ev(**{
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Failed": failed, "Killed": False},
        "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                         "Peak Execution Memory": peak,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}},
    })


def _stage_done(stage, submit, complete, acc=()):
    return _ev(**{
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {"Stage ID": stage, "Submission Time": submit,
                       "Completion Time": complete,
                       "Accumulables": [{"Name": n, "Value": v} for n, v in acc]},
    })


LOG = [
    _ev(Event="SparkListenerLogStart"),
    _ev(**{"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
           "Properties": {"spark.jobGroup.id": "pass-1"}}),
    _task(0, 100, 400, 280, 10, 1000, 50),
    _task(0, 100, 1300, 1150, 20, 3000, 70),
    _task(0, 100, 300, 190, 0, 500, 30),
    _task(0, 100, 900, 50, 0, 0, 0, failed=True),
    _stage_done(0, 90, 1310, [
        ("time to run Python workers", "1200"),
        ("data sent to Python workers", "4000"),
        ("data returned from Python workers", "900"),
        ("time to run Python workers", "300"),   # a second Python operator
        ("number of output rows", "77"),
    ]),
    _task(1, 1400, 1500, 90, 0, 2000, 0),
    _stage_done(1, 1390, 1510),
    # a job of another group, reusing stage 1 (skipped) and adding stage 2
    _ev(**{"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
           "Properties": {"spark.jobGroup.id": "dedup.latest"}}),
    _task(2, 2000, 2600, 580, 5, 8000, 0),
    _stage_done(2, 1990, 2610),
    # a job without a group whose stage never completed
    _ev(**{"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
           "Properties": {}}),
    _task(3, 3000, 3100, 90, 0, 0, 0),
    "",
]


def test_event_log_fold_per_group():
    folded = eventlog.fold(LOG)
    assert folded["jobs"] == {0: "pass-1", 1: "dedup.latest", 2: None}
    assert sorted(folded["stages"]) == [0, 1, 2]   # stage 3 never completed

    t = eventlog.group_totals(folded, "pass-1")
    assert t["jobs"] == 1 and t["stages"] == 2
    assert t["tasks"] == 4                           # the failed task is dropped
    assert t["run_s"] == pytest.approx((280 + 1150 + 190 + 90) / 1000)
    assert t["gc_s"] == pytest.approx(0.030)
    assert t["py_run_s"] == pytest.approx(1.5)       # both Python operators
    assert t["to_python"] == 4000 and t["from_python"] == 900
    assert t["shuffle_write"] == 150
    assert t["peak_mem"] == 3000
    assert t["stage_s"] == pytest.approx((1220 + 120) / 1000)

    d = eventlog.group_totals(folded, "dedup.latest")
    assert (d["jobs"], d["stages"], d["tasks"], d["peak_mem"]) == (1, 1, 1, 8000)


def test_event_log_python_stages_and_skew_inputs():
    folded = eventlog.fold(LOG)
    py = eventlog.python_stages(folded, "pass-1")
    assert len(py) == 1
    assert sorted(py[0]["task_ms"]) == [200, 300, 1200]
    assert eventlog.python_stages(folded, "dedup.latest") == []


def test_empty_group_totals_are_zero():
    t = eventlog.group_totals(eventlog.fold(LOG), "no-such-group")
    assert t["jobs"] == t["stages"] == t["tasks"] == 0
    assert t["peak_mem"] == 0


TICK = procstat._TICK


def _proc(root: pathlib.Path, pid: int, comm: str, ppid: int,
          ut: int, st: int, cut: int, cst: int, rss_kb: int) -> None:
    d = root / str(pid)
    d.mkdir()
    # fields after comm: state ppid pgrp session tty tpgid flags minflt
    # cminflt majflt cmajflt utime stime cutime cstime ...
    rest = f"S {ppid} 1 1 0 -1 0 0 0 0 0 {ut} {st} {cut} {cst} 20 0 1 0"
    (d / "stat").write_text(f"{pid} ({comm}) {rest}\n")
    (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t999 kB\nVmRSS:\t{rss_kb} kB\n")


@pytest.fixture
def fake_proc(tmp_path):
    # bench(10) -> java(20) -> python daemon(30) -> worker(31), worker(32);
    # an unrelated python(40) under init, and a JVM-spawned non-python (50)
    _proc(tmp_path, 1, "init", 0, 0, 0, 0, 0, 100)
    _proc(tmp_path, 10, "python3", 1, 5 * TICK, 0, 0, 0, 50_000)
    _proc(tmp_path, 20, "java", 10, 30 * TICK, 10 * TICK, 7 * TICK, 0, 1_000_000)
    _proc(tmp_path, 30, "python3", 20, 1 * TICK, 0, 4 * TICK, 2 * TICK, 20_000)
    _proc(tmp_path, 31, "python3", 30, 6 * TICK, 1 * TICK, 0, 0, 100_000)
    _proc(tmp_path, 32, "python3", 30, 3 * TICK, 0, 0, 0, 80_000)
    _proc(tmp_path, 40, "python3", 1, 99 * TICK, 0, 0, 0, 500_000)
    _proc(tmp_path, 50, "sh", 20, 8 * TICK, 0, 0, 0, 1_000)
    return tmp_path


def test_proc_cpu_split_jvm_and_python_workers(fake_proc):
    p = procstat.SparkProcesses(root=10, proc=fake_proc)
    assert p.jvm == 20
    cpu = p.cpu()
    # JVM: its own threads only (its cutime would double count children)
    assert cpu["jvm"] == pytest.approx(40.0)
    # Python: daemon self + reaped children, plus each live worker
    assert cpu["python"] == pytest.approx((1 + 4 + 2) + 7 + 3)
    assert p.seen_workers == {30, 31, 32}


def test_proc_reaped_worker_is_counted_once(fake_proc):
    p = procstat.SparkProcesses(root=10, proc=fake_proc)
    before = p.cpu()["python"]
    # worker 32 runs 2 more seconds, exits, and the daemon reaps it
    for f in (fake_proc / "32").iterdir():
        f.unlink()
    (fake_proc / "32").rmdir()
    _proc_update = fake_proc / "30" / "stat"
    _proc_update.unlink()
    (fake_proc / "30" / "status").unlink()
    (fake_proc / "30").rmdir()
    _proc(fake_proc, 30, "python3", 20, 1 * TICK, 0, 9 * TICK, 2 * TICK, 20_000)
    assert p.cpu()["python"] - before == pytest.approx(2.0)


def test_proc_rss_sums_jvm_and_workers(fake_proc):
    p = procstat.SparkProcesses(root=10, proc=fake_proc)
    assert p.rss_kb() == 1_000_000 + 20_000 + 100_000 + 80_000


def test_read_stat_comm_with_spaces_and_parens(tmp_path):
    _proc(tmp_path, 7, "a b) (c", 1, 2 * TICK, 3 * TICK, 0, 0, 10)
    st = procstat.read_stat(7, tmp_path)
    assert st["comm"] == "a b) (c"
    assert st["ppid"] == 1
    assert st["self_s"] == pytest.approx(5.0)
    assert procstat.read_stat(8, tmp_path) is None
    assert procstat.read_rss_kb(8, tmp_path) == 0


def test_no_jvm_is_an_error(fake_proc):
    with pytest.raises(RuntimeError):
        procstat.SparkProcesses(root=40, proc=fake_proc)


def test_supervisor_reaps_an_orphaned_grandchild():
    """A grandchild left running when its parent exits is re-parented to the
    subreaper, and reap_all waits for it or kills it after the grace time."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent("""
        import ctypes, subprocess, sys, time
        sys.path.insert(0, sys.argv[1])
        from steadybench import run
        assert ctypes.CDLL(None).prctl(run.PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
        subprocess.run(["sh", "-c", "sleep 30 & exit 0"], check=True)
        assert run._children(), "the orphaned sleep should be our child now"
        t = time.monotonic()
        run.reap_all(0.5)
        assert not run._children()
        assert time.monotonic() - t < 10
    """)
    root = pathlib.Path(__file__).resolve().parents[2]
    subprocess.run([sys.executable, "-c", script, str(root)], check=True, timeout=60)


@pytest.fixture(scope="module")
def spark():
    # the product's session factory with the same arguments as
    # tests/conftest.py: a bare `pytest` collects this module first, and the
    # JVM it starts (driver heap, GC options) is the one tests/ then reuse
    from final_ocr_spark.session import get_spark

    s = get_spark(app_name="final-ocr-spark-tests", master="local[4]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_digest_is_order_independent_and_exact(spark):
    from pyspark.sql import functions as F

    from steadybench.digest import digest

    rows = [(i, f"text {i}", [i, i + 1]) for i in range(50)]
    df = spark.createDataFrame(rows, "id int, t string, a array<int>")
    n, h = digest(df)
    assert n == 50
    shuffled = spark.createDataFrame(list(reversed(rows)), df.schema).repartition(3)
    assert digest(shuffled) == (n, h)
    # the exact sum of per-row xxhash64 over every column
    per_row = df.select(F.xxhash64("id", "t", "a").alias("x")).collect()
    assert h == sum(r["x"] for r in per_row)


def test_digest_sees_a_changed_value_and_skips_part_id(spark):
    from steadybench.digest import digest

    base = spark.createDataFrame([(1, "a"), (2, "b")], "id int, t string")
    changed = spark.createDataFrame([(1, "a"), (2, "c")], "id int, t string")
    assert digest(base) != digest(changed)
    with_part = spark.createDataFrame([(1, "a", 7), (2, "b", 9)],
                                      "id int, t string, part_id int")
    assert digest(with_part) == digest(base)
    empty = spark.createDataFrame([], "id int, t string")
    assert digest(empty) == (0, 0)
