import math
import os
import subprocess
import sys
import threading
import time

import pytest
from measure import CpuClock, _rendered_seconds, fs_diff, fs_snapshot, median, tail


def test_median_odd_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


@pytest.mark.parametrize("n", [20, 21, 22, 57, 100, 101, 333, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    xs = [float(i) for i in range(n)][::-1]  # distinct, unsorted
    value, p, count = tail(xs)
    assert count == n
    assert sum(x > value for x in xs) >= 10
    # one percentile higher would leave fewer than ten samples beyond it
    rank = math.ceil((p + 1) * n / 100)
    assert p == 99 or n - rank < 10


def test_tail_known_values():
    xs = list(range(1, 101))
    assert tail(xs) == (90, 90, 100)
    assert tail(list(range(20))) == (9, 50, 20)


def test_tail_with_too_few_samples_is_the_max():
    assert tail([5.0, 1.0, 3.0]) == (5.0, 100, 3)
    assert tail([float(i) for i in range(19)]) == (18.0, 100, 19)


def _write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def test_fs_diff_counts_new_and_replaced_files(tmp_path):
    root = str(tmp_path)
    _write(f"{root}/t/p=1/a.parquet", b"x" * 100)
    _write(f"{root}/t/p=2/b.parquet", b"x" * 200)
    _write(f"{root}/t/p=3/c.parquet", b"x" * 300)
    before = fs_snapshot(root)

    # p=1 untouched; p=2 rewritten through a rename (new inode);
    # p=3 deleted; p=4 new; marker and checksum files are not data
    _write(f"{root}/t/p=2/b2.tmp", b"y" * 250)
    os.replace(f"{root}/t/p=2/b2.tmp", f"{root}/t/p=2/b.parquet")
    os.remove(f"{root}/t/p=3/c.parquet")
    _write(f"{root}/t/p=4/d.parquet", b"z" * 40)
    _write(f"{root}/t/_SUCCESS", b"")
    _write(f"{root}/t/p=4/.d.parquet.crc", b"c" * 12)
    after = fs_snapshot(root)

    assert fs_diff(before, after) == (250 + 40, 2, 2)
    assert fs_diff(after, after) == (0, 0, 0)


def test_rendered_sql_timing():
    assert _rendered_seconds("2.0 s") == 2.0
    assert _rendered_seconds("684 ms") == pytest.approx(0.684)
    text = "total (min, med, max (stageId: taskId))\n1.5 m (1.0 s, 2.0 s, 3.0 s (stage 4.0: task 9))"
    assert _rendered_seconds(text) == 90.0


def test_cpu_clock_counts_exited_children():
    clock = CpuClock()
    before = clock.now()
    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", spin], check=True)
    assert clock.now() - before >= 0.25


def test_cpu_clock_leaves_out_excluded_threads():
    clock = CpuClock()
    ready, stop = threading.Event(), threading.Event()

    def spin():
        clock.exclude.append(threading.get_native_id())
        ready.set()
        while not stop.is_set():
            pass

    thread = threading.Thread(target=spin)
    thread.start()
    ready.wait()
    try:
        before = clock.now()
        time.sleep(0.5)
        spent = clock.now() - before
    finally:
        stop.set()
        thread.join()
    assert spent < 0.1
