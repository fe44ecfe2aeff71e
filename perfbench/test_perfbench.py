"""Self-tests of the benchmark's helpers (no Spark):

    python3 -m pytest -q perfbench
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pyarrow as pa
import pytest

from corpus import Shape, generate, group_counts, load, repo_parts
from harness import parse_event_logs
from stats import (PeakRss, cpu_jiffies, data_files, dir_bytes,
                   own_memory_pids, percentile, rss_bytes, steal_share,
                   summary, tree_pids)


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile(xs, 101)


def test_summary_reports_tail_only_with_ten_samples_beyond_it():
    few = summary([float(i) for i in range(50)])
    assert few["n"] == 50 and few["p50"] == pytest.approx(24.5)
    assert few["tail_q"] is None and few["tail"] is None
    hundred = summary([float(i) for i in range(100)])
    assert hundred["tail_q"] == 90.0
    assert hundred["tail"] == pytest.approx(89.1)
    thousand = summary([float(i) for i in range(1000)])
    assert thousand["tail_q"] == 99.0
    assert summary([])["p50"] is None


def test_steal_share_is_stolen_over_runnable_time(tmp_path):
    assert steal_share((100, 10), (160, 30)) == pytest.approx(0.25)
    assert steal_share((100, 10), (100, 10)) == 0.0
    (tmp_path / "stat").write_text(
        "cpu  10 1 2 500 7 3 4 5 0 0\ncpu0 1 1 1 1 1 1 1 1 0 0\n")
    # busy = user + nice + system + irq + softirq; idle and iowait excluded
    assert cpu_jiffies(str(tmp_path)) == (20, 5)
    busy, steal = cpu_jiffies()
    assert busy > 0 and steal >= 0


def test_process_tree_rss_counts_children():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "b = bytearray(64 << 20)\nimport time\ntime.sleep(30)"])
    try:
        deadline = time.monotonic() + 10
        while rss_bytes(child.pid) < (64 << 20):
            assert time.monotonic() < deadline, "child never grew"
            time.sleep(0.05)
        assert child.pid in tree_pids(os.getpid())
        with PeakRss(interval_s=0.01) as rss:
            time.sleep(0.1)
        # the child's 64 MB plus this interpreter's own resident pages
        assert rss.samples >= 1 and rss.peak >= (64 << 20) + (8 << 20)
        assert len(rss.at_peak) >= 2  # this process and the child
    finally:
        child.kill()
        child.wait()
    assert rss_bytes(child.pid) == 0
    assert child.pid not in tree_pids(os.getpid())


def test_unexeced_jvm_forks_are_not_counted_twice(tmp_path):
    # pid: (comm, parent pid, executable)
    procs = {10: ("python3", 1, "/usr/bin/python3"),
             11: ("java", 10, "/jdk/bin/java"),
             12: ("Executor task l", 11, "/jdk/bin/java"),  # before exec
             13: ("python", 11, "/usr/bin/python3"),        # worker daemon
             14: ("python", 13, "/usr/bin/python3"),        # forked worker
             20: ("java", 1, "/jdk/bin/java")}              # not in the tree
    for pid, (comm, ppid, exe) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(f"{pid} ({comm}) S {ppid} 1 1 0")
        os.symlink(exe, d / "exe")
    assert sorted(tree_pids(10, str(tmp_path))) == [10, 11, 12, 13, 14]
    assert sorted(own_memory_pids(10, str(tmp_path))) == [10, 11, 13, 14]


def test_store_byte_counting_skips_checksums_and_markers(tmp_path):
    b = tmp_path / "store" / "_bucket=3"
    b.mkdir(parents=True)
    (b / "part-0.parquet").write_bytes(b"x" * 100)
    (b / ".part-0.parquet.crc").write_bytes(b"c" * 7)
    (tmp_path / "store" / "_SUCCESS").write_bytes(b"")
    os.symlink(b / "part-0.parquet", b / "link.parquet")
    store = str(tmp_path / "store")
    assert dir_bytes(store) == 107
    assert dir_bytes(store, data_only=True) == 100
    assert data_files(store) == [str(b / "link.parquet"),
                                 str(b / "part-0.parquet")]


def test_group_counts_are_exact_byte_kgrams():
    t = pa.table({"repo": ["a", "a", "b", "b"],
                  "lang": ["py", "py", "c", "py"],
                  "content": ["abcdefghij", "short", "naïve café", ""]})
    got = group_counts(t, 8)
    # 10 bytes -> 3 grams; 5 bytes -> 0; "naïve café" is 12 bytes -> 5
    assert got == {"a\x00py": [2, 3], "b\x00c": [1, 5], "b\x00py": [1, 0]}


def test_corpus_parts_hold_whole_repos():
    repo_of = [0] * 7 + [1] * 2 + [2] * 2 + [3] * 3
    parts = repo_parts(repo_of, 4)
    assert parts == [(0, 7), (7, 11), (11, 14)]
    assert [lo for lo, _ in parts[1:]] == [hi for _, hi in parts[:-1]]
    for lo, hi in parts:
        assert lo == 0 or repo_of[lo] != repo_of[lo - 1]
    assert repo_parts([5], 16) == [(0, 1)]


SHAPE = Shape(n_files=60, files_per_repo=10, mega_factor=2,
              tokens_per_file=20, inc_existing=2, inc_new=1, inc_files=3,
              rounds=2)


def test_corpus_is_a_pure_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    generate(SHAPE, 5, "w", 8, a)
    generate(SHAPE, 5, "w", 8, b)
    generate(SHAPE, 6, "w", 8, c)
    for rel in ("meta.json", "corpus/part-0000.parquet",
                "inc-0/part-0000.parquet"):
        with open(os.path.join(a, rel), "rb") as fa, \
                open(os.path.join(b, rel), "rb") as fb:
            assert fa.read() == fb.read(), rel
    with open(os.path.join(a, "meta.json")) as fa, \
            open(os.path.join(c, "meta.json")) as fc:
        assert fa.read() != fc.read()


def test_cache_reuses_only_an_intact_copy(tmp_path):
    root = str(tmp_path)
    d, meta, info = load(root, SHAPE, 5, "w", 8)
    assert info["cache"] == "miss" and meta["n_files"] == SHAPE.n_files
    assert load(root, SHAPE, 5, "w", 8)[2]["cache"] == "hit"
    with open(os.path.join(d, "corpus", "part-0000.parquet"), "ab") as f:
        f.write(b"tampered")
    assert load(root, SHAPE, 5, "w", 8)[2]["cache"] == "stale"
    assert load(root, SHAPE, 5, "w", 8)[2]["cache"] == "hit"


def test_event_log_parsing_attributes_tasks_to_tagged_jobs(tmp_path):
    import json
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"perfbench.op": "lookup:0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 2_000_000_000,
            "JVM GC Time": 250,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 4096}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 99}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    (tmp_path / "app-2.inprogress").write_text("not json")
    got = parse_event_logs(str(tmp_path))
    assert got == {"lookup:0": {"jobs": 1, "tasks": 1, "run_s": 1.5,
                                "cpu_s": 2.0, "gc_s": 0.25,
                                "shuffle_write_bytes": 4096}}
