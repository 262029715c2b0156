import os

import pytest

import procstat


def write_proc(root, pid, ppid, utime, stime, cutime=0, cstime=0, name="java", hwm_kb=None):
    d = root / str(pid)
    d.mkdir()
    # Field layout of /proc/<pid>/stat: pid (comm) state ppid pgrp session
    # tty tpgid flags minflt cminflt majflt cmajflt utime stime cutime cstime.
    fields = ["S", ppid, 0, 0, 0, 0, 0, 0, 0, 0, 0, utime, stime, cutime, cstime, 20, 0]
    (d / "stat").write_text(f"{pid} ({name}) " + " ".join(str(f) for f in fields) + "\n")
    if hwm_kb is not None:
        (d / "status").write_text(f"Name:\t{name}\nVmHWM:\t{hwm_kb} kB\n")


@pytest.fixture
def proc(tmp_path):
    t = procstat.CLK_TCK
    write_proc(tmp_path, 100, 1, 10 * t, 2 * t, 1 * t, 0, hwm_kb=1024 * 1000)  # JVM
    write_proc(tmp_path, 200, 100, 1 * t, 1 * t, 3 * t, 1 * t, name="python3 (daemon)", hwm_kb=1024 * 50)
    write_proc(tmp_path, 300, 200, 2 * t, 0, name="python3", hwm_kb=1024 * 40)  # worker
    write_proc(tmp_path, 400, 1, 99 * t, 99 * t)  # unrelated
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_tree_pids_follows_descendants(proc):
    assert sorted(procstat.tree_pids(100, proc)) == [100, 200, 300]


def test_tree_cpu_sums_live_and_reaped_children(proc):
    # JVM 10+2+1, daemon 1+1+3+1 (its reaped workers in c*), worker 2.
    assert procstat.tree_cpu_s(100, proc) == pytest.approx(13 + 6 + 2)


def test_tree_cpu_can_exclude_the_root(proc):
    assert procstat.tree_cpu_s(100, proc, exclude_root=True) == pytest.approx(8)


def test_gone_process_counts_zero(proc):
    assert procstat.cpu_s(999, proc) == 0.0
    assert procstat.vm_hwm_mb(999, proc) == 0.0


def test_comm_with_spaces_and_parens_parses(proc):
    assert procstat.cpu_s(200, proc) == pytest.approx(6)


def test_tree_hwm_sums_peaks(proc):
    assert procstat.tree_hwm_mb(100, proc) == pytest.approx(1090)


def test_live_proc_reads():
    assert procstat.cpu_s(os.getpid()) >= 0.0
    steal, total = procstat.cpu_ticks()
    assert 0 <= steal <= total
    assert len(procstat.loadavg()) == 3
