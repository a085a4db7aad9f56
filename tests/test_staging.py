"""Engine temp state (fxa_amplitude_send_spark/staging.py): build-once
within a process, keyed on the source files, gone when the process exits,
and the only module that creates temp dirs."""

from __future__ import annotations

import ast
import glob
import os
import pathlib
import subprocess
import sys
import threading
import time

import pytest

from fxa_amplitude_send_spark.staging import memo, scratch, source_identity, staged

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "fxa_amplitude_send_spark"


def _counting_build(calls: list, delay: float = 0.0):
    def build(path: str) -> None:
        calls.append(path)
        time.sleep(delay)
        os.makedirs(path)

    return build


def test_same_key_builds_once(tmp_path):
    calls: list = []
    key = ("once", str(tmp_path))
    p1 = staged("t_once", key, _counting_build(calls))
    p2 = staged("t_once", key, _counting_build(calls))
    assert p1 == p2 and calls == [p1]
    assert os.path.basename(p1).startswith("fxa_spark_t_once_")
    assert os.path.isdir(p1)
    assert memo("t_once", key, lambda: [1]) is memo("t_once", key, lambda: [2])


def test_rewritten_source_file_rebuilds(tmp_path):
    src = tmp_path / "events.parquet"
    src.write_bytes(b"v1")
    calls: list = []
    first = staged("t_src", source_identity(str(tmp_path), "events"), _counting_build(calls))
    assert staged("t_src", source_identity(str(tmp_path), "events"), _counting_build(calls)) == first

    src.write_bytes(b"v2-longer")
    st = src.stat()
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    second = staged("t_src", source_identity(str(tmp_path), "events"), _counting_build(calls))
    assert second != first and calls == [first, second]


def test_racing_threads_build_once(tmp_path):
    calls: list = []
    start = threading.Barrier(8)
    paths: list = []

    def worker():
        start.wait()
        paths.append(staged("t_race", str(tmp_path), _counting_build(calls, delay=0.2)))

    threads = [threading.Thread(target=worker) for _ in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1 and paths == [calls[0]] * 8


def test_raising_build_leaves_no_entry(tmp_path):
    def broken(path: str) -> None:
        os.makedirs(path)
        (pathlib.Path(path) / "half-written").write_text("x")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        staged("t_fail", str(tmp_path), broken)
    calls: list = []
    path = staged("t_fail", str(tmp_path), _counting_build(calls))
    assert calls == [path]
    assert os.listdir(path) == []  # the failed build's files were cleared


def test_scratch_is_fresh_and_per_thread(tmp_path):
    a = scratch("t_scratch", str(tmp_path))
    os.makedirs(a)
    (pathlib.Path(a) / "f").write_text("x")
    assert scratch("t_scratch", str(tmp_path)) == a and not os.path.exists(a)

    other: list = []
    t = threading.Thread(target=lambda: other.append(scratch("t_scratch", str(tmp_path))))
    t.start()
    t.join(timeout=30)
    assert not t.is_alive() and other[0] != a


def test_child_process_leaves_nothing_under_its_tmpdir(tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    code = (
        "import os\n"
        "from fxa_amplitude_send_spark.staging import scratch, staged\n"
        "p = staged('child', 1, os.makedirs)\n"
        "os.makedirs(scratch('child_scratch', '.'))\n"
        "print(p)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp), PYTHONPATH=str(ROOT))
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert out.startswith(str(tmp)), out  # the root honoured TMPDIR
    assert glob.glob(str(tmp / "fxa_spark_*")) == []


# -- guard: no other module creates temp dirs ---------------------------------

TEMP_DIR_CALLS = {"gettempdir", "mkdtemp", "TemporaryDirectory"}


def _temp_dir_uses(tree: ast.AST) -> list[int]:
    """Lines that reach a tempfile temp-dir function, by attribute
    (``tempfile.mkdtemp``, ``import tempfile as t; t.mkdtemp``) or by
    name import (``from tempfile import gettempdir``)."""
    modules = {"tempfile"}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            modules |= {a.asname or a.name for a in node.names if a.name == "tempfile"}
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "tempfile":
            if any(a.name in TEMP_DIR_CALLS for a in node.names):
                lines.append(node.lineno)
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and node.attr in TEMP_DIR_CALLS
        ):
            lines.append(node.lineno)
    return lines


def test_only_staging_creates_temp_dirs():
    bad = [
        f"{py.relative_to(PKG).as_posix()}:{line}"
        for py in sorted(PKG.rglob("*.py"))
        if py.name != "staging.py" or py.parent != PKG
        for line in _temp_dir_uses(ast.parse(py.read_text(encoding="utf-8")))
    ]
    assert not bad, "temp dirs created outside staging.py:\n" + "\n".join(bad)


def test_guard_sees_every_temp_dir_form():
    src = (
        "import tempfile\n"
        "import tempfile as tf\n"
        "from tempfile import gettempdir\n"
        "tempfile.mkdtemp()\n"
        "tf.TemporaryDirectory()\n"
        "tempfile.NamedTemporaryFile()\n"
    )
    assert sorted(_temp_dir_uses(ast.parse(src))) == [3, 4, 5]
