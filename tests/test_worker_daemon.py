"""The worker daemon's zipimporter patch: an unchanged archive is not
re-read on ``importlib.invalidate_caches()``, a rewritten one is."""
from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# runs in its own interpreter so that this process's zipimport stays
# unpatched
_PATCH_SCRIPT = """
import importlib, sys, zipfile, zipimport
import sciencebeam_parser_spark.worker_daemon  # patches zipimporter

archive = sys.argv[1]

def write(value, pad):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod.py", f"VALUE = {value!r}\\n" + "#" * pad + "\\n")

write("old", 0)
sys.path.insert(0, archive)
import zmod
assert zmod.VALUE == "old", zmod.VALUE

reads = []
read_directory = zipimport._read_directory
def counting(path):
    reads.append(path)
    return read_directory(path)
zipimport._read_directory = counting

importlib.invalidate_caches()  # records the archive's stat
del reads[:]
importlib.invalidate_caches()
importlib.invalidate_caches()
assert reads == [], reads

write("new", 100)
importlib.invalidate_caches()
assert reads == [archive], reads
del sys.modules["zmod"]
import zmod
assert zmod.VALUE == "new", zmod.VALUE
print("ok")
"""


def test_unchanged_archive_is_not_reread(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _PATCH_SCRIPT, str(tmp_path / "mods.zip")],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip() == "ok"


# the daemon's pre-fork set-up, then 8 forked children that each run the
# Arrow round trip a worker runs (pyarrow's thread pools and jemalloc,
# numpy's OpenBLAS threads, all started before the fork)
_FORK_SCRIPT = """
import gc, os, sys, time, traceback
import pyspark.daemon  # imports pyspark.worker, as the daemon does
from sciencebeam_parser_spark import worker_daemon

worker_daemon.prepare_fork()

assert "pandas" in sys.modules and "pyarrow" in sys.modules
ours = sorted(m for m in sys.modules if m.startswith("sciencebeam_parser_spark"))
assert ours == ["sciencebeam_parser_spark", "sciencebeam_parser_spark.worker_daemon"], ours
assert gc.get_freeze_count() > 0

def child():
    import numpy as np
    import pyarrow as pa

    n = 1_000_000
    ints = np.arange(n)
    table = pa.table(
        {"i": ints, "f": ints * 0.5, "s": pa.array(ints % 1000).cast(pa.string())}
    )
    back = pa.Table.from_pandas(table.to_pandas(), preserve_index=False)
    assert back.equals(table)

pids = []
for _ in range(8):
    pid = os.fork()
    if pid == 0:
        try:
            child()
        except BaseException:
            traceback.print_exc()
            os._exit(1)
        os._exit(0)
    pids.append(pid)

deadline = time.monotonic() + 60
codes = {}
while len(codes) < len(pids) and time.monotonic() < deadline:
    for pid in pids:
        if pid not in codes:
            done, status = os.waitpid(pid, os.WNOHANG)
            if done:
                codes[pid] = os.waitstatus_to_exitcode(status)
    time.sleep(0.05)
for pid in pids:
    if pid not in codes:
        os.kill(pid, 9)
        os.waitpid(pid, 0)
assert sorted(codes.values()) == [0] * len(pids), codes
print("ok")
"""


def test_forked_workers_run_arrow_from_the_frozen_heap():
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _FORK_SCRIPT],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip() == "ok"
