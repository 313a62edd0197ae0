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
