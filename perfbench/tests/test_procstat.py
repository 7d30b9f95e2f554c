import os
import subprocess
import sys
import time

import pytest

from perfbench import procstat


def test_parse_stat_comm_with_spaces_and_parens():
    line = ("4242 (java (main) x) S 4000 4242 4000 0 -1 4194560 100 0 0 0 "
            "250 50 7 3 20 0 30 0 1000 4096000 1234 18446744073709551615")
    s = procstat.parse_stat(line)
    assert s == {"pid": 4242, "comm": "java (main) x", "ppid": 4000,
                 "ticks": 250 + 50 + 7 + 3, "vsize": 4096000, "rss_pages": 1234}


def test_tree_collects_descendants_only():
    stats = [
        {"pid": 1, "ppid": 0, "ticks": 1, "rss_pages": 1},
        {"pid": 10, "ppid": 1, "ticks": 2, "rss_pages": 2},
        {"pid": 11, "ppid": 10, "ticks": 3, "rss_pages": 3},
        {"pid": 12, "ppid": 11, "ticks": 4, "rss_pages": 4},
        {"pid": 20, "ppid": 1, "ticks": 5, "rss_pages": 5},
    ]
    assert sorted(s["pid"] for s in procstat.tree(stats, 10)) == [10, 11, 12]
    assert procstat.tree(stats, 99) == []


def test_unshared_drops_children_not_yet_execd():
    jvm = {"pid": 10, "ppid": 1, "comm": "java", "vsize": 9_000, "rss_pages": 500}
    spawning = {"pid": 11, "ppid": 10, "comm": "Executor task l", "vsize": 9_000,
                "rss_pages": 500}
    helper = {"pid": 12, "ppid": 10, "comm": "chmod", "vsize": 100, "rss_pages": 1}
    worker = {"pid": 13, "ppid": 14, "comm": "python3", "vsize": 800, "rss_pages": 30}
    daemon = {"pid": 14, "ppid": 10, "comm": "python3", "vsize": 700, "rss_pages": 30}
    kept = procstat.unshared([jvm, spawning, helper, worker, daemon])
    assert [s["pid"] for s in kept] == [10, 12, 13, 14]


def test_sample_counts_a_busy_child():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import time\nt=time.process_time()\n"
         "while time.process_time()-t<0.3: pass\ntime.sleep(5)"])
    try:
        before, _, _ = procstat.TreeSampler().sample()
        time.sleep(0.6)
        after, rss, _ = procstat.TreeSampler().sample()
        assert after - before >= 0.2
        assert rss > 1.0
    finally:
        child.kill()
        child.wait()


def test_pss_of_self_is_positive_and_of_a_gone_pid_zero():
    assert 1.0 < procstat.pss_mb(os.getpid()) < 10_000
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()
    assert procstat.pss_mb(child.pid) == 0.0


def test_is_running_sees_zombies_as_ended():
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    deadline = time.monotonic() + 10
    while procstat.is_running(child.pid) and time.monotonic() < deadline:
        time.sleep(0.05)  # exits, stays a zombie until waited for
    assert not procstat.is_running(child.pid)
    child.wait()
    assert procstat.is_running(os.getpid())


def test_reaped_child_cpu_stays_in_the_tree():
    before, _, _ = procstat.TreeSampler().sample()
    subprocess.run([sys.executable, "-c",
                    "import time\nt=time.process_time()\n"
                    "while time.process_time()-t<0.3: pass"], check=True)
    after, _, _ = procstat.TreeSampler().sample()
    assert after - before >= 0.25


def test_sampler_keeps_peak_memory():
    with procstat.TreeSampler(interval_s=0.01) as s:
        blob = bytearray(64 * 2**20)
        blob[::4096] = b"x" * len(blob[::4096])
        time.sleep(0.1)
        del blob
        cpu = s.cpu_s()
    assert s.peak_mb >= 64
    assert cpu > 0


@pytest.mark.parametrize("text, expected", [
    ("1,234", 1234.0),
    ("0", 0.0),
    ("3.1 MiB", 3.1 * 2**20),
    ("512.0 B", 512.0),
    ("850 ms", 0.85),
    ("total (min, med, max (stageId: taskId))\n"
     "12.5 s (1.0 s, 3.0 s, 4.5 s (stage 3.0: task 7))", 12.5),
    ("total (min, med, max (stageId: taskId))\n"
     "2.0 GiB (10.0 MiB, 20.0 MiB, 1.0 GiB (stage 1.0: task 2))", 2.0 * 2**30),
    ("total (min, med, max (stageId: taskId))\n"
     "1.5 m (0 ms, 2 ms, 40.0 s (stage 4.1: task 30))", 90.0),
    ("total (min, med, max (stageId: taskId))\n"
     "7,200 (0, 100, 4,000 (stage 2.0: task 5))", 7200.0),
])
def test_parse_metric(text, expected):
    assert procstat.parse_metric(text) == pytest.approx(expected)


@pytest.mark.parametrize("text", ["", "total (min, med, max)\n", "fast"])
def test_parse_metric_rejects_garbage(text):
    with pytest.raises(ValueError):
        procstat.parse_metric(text)


def test_sampler_leaves_out_jit_compiler_threads():
    # a child whose main thread is named like a JVM C2 compiler thread
    code = ("import ctypes, time\n"
            "ctypes.CDLL(None).prctl(15, b'C2 CompilerThre', 0, 0, 0)\n"
            "time.sleep(0.3)\n"
            "t = time.process_time()\n"
            "while time.process_time() - t < 0.5: pass\n"
            "time.sleep(5)")
    with procstat.TreeSampler(interval_s=0.02) as s:
        child = subprocess.Popen([sys.executable, "-c", code])
        try:
            time.sleep(0.15)
            cpu0, _, jit0 = s.sample()
            base = s.cpu_s()
            time.sleep(1.2)
            cpu1, _, jit1 = s.sample()
            excluded = s.cpu_s() - base
        finally:
            child.kill()
            child.wait()
    assert jit1 - jit0 >= 0.4
    assert cpu1 - cpu0 >= 0.4
    assert excluded < 0.3
