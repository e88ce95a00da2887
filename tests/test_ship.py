"""Package self-shipping (diagon_spark/_ship.py): each driver process
registers a zip of the code it imported, and leaves no zip behind."""

import os
import subprocess
import sys
import tempfile
import types
import zipfile
from pathlib import Path

from diagon_spark import _ship

REPO = Path(__file__).resolve().parents[1]


class _RecordingContext:
    def __init__(self):
        self.py_files = []

    def addPyFile(self, path):
        with zipfile.ZipFile(path) as zf:
            self.py_files.append((path, sorted(zf.namelist())))


def test_planted_zip_is_not_registered(tmp_path, monkeypatch):
    # a zip a previous driver with this pid could have left behind
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(_ship, "_zip_path", None, raising=False)
    planted = tmp_path / f"diagon_spark_{os.getpid()}.zip"
    with zipfile.ZipFile(planted, "w") as zf:
        zf.writestr("diagon_spark/__init__.py", "raise ImportError('stale')\n")
    sc = _RecordingContext()
    _ship.ensure_shipped(types.SimpleNamespace(sparkContext=sc))
    [(path, names)] = sc.py_files
    assert Path(path) != planted
    assert "diagon_spark/_ship.py" in names
    assert "diagon_spark/search/local_reader.py" in names


def test_driver_leaves_no_zip(tmp_path):
    script = (
        "import types\n"
        "from diagon_spark import _ship\n"
        "class SC:\n"
        "    def addPyFile(self, path):\n"
        "        print(path)\n"
        "_ship.ensure_shipped(types.SimpleNamespace(sparkContext=SC()))\n")
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=str(REPO))
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         cwd=str(tmp_path), capture_output=True, text=True,
                         check=True, timeout=120)
    registered = Path(out.stdout.strip())
    assert registered.is_relative_to(tmp_path)
    assert not registered.exists()
    assert list(tmp_path.rglob("*.zip")) == []
