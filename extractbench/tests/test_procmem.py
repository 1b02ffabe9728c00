"""Process-tree RSS sampling."""

from __future__ import annotations

import os
import subprocess
import sys
import time

from extractbench.procmem import PeakRss, tree_pids, tree_rss_bytes

SIZE = 64 << 20


def test_tree_includes_children_and_their_memory():
    child = subprocess.Popen(
        [sys.executable, "-c", f"import time; b = b'x' * {SIZE}; time.sleep(30)"]
    )
    try:
        deadline = time.monotonic() + 10
        while tree_rss_bytes(child.pid) < SIZE and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.pid in tree_pids(os.getpid())
        assert tree_rss_bytes(os.getpid()) >= tree_rss_bytes(child.pid) >= SIZE
    finally:
        child.kill()
        child.wait(timeout=10)


def test_lap_returns_the_peak_since_the_last_lap():
    rss = PeakRss(interval=0.01).start()
    try:
        assert rss.lap() > 0
        assert rss.lap() > 0  # a lap samples once itself, so it never reads 0
    finally:
        rss.stop()
