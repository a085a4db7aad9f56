"""Guard against environment-variable knobs in product code.

An A/B seam read from the environment is a second code path that no test
or benchmark exercises once its A/B is decided. Product code may read only
deployment settings: the allowlist below, plus the reference pipeline's
own configuration contract, which ``PipelineConfig.from_env`` maps from a
copy of the environment (the reference reads the same names in utils.js).
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "fxa_amplitude_send_spark"

#: deployment settings product code may read by name
ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_STREAM_PARTITIONS"}

#: the only place a whole-environment copy may be taken, and the names it
#: may read from that copy
WHOLE_ENV_READERS = {("config.py", "from_env")}
REFERENCE_SETTINGS = {"AMPLITUDE_API_KEY", "HMAC_KEY", "MAX_EVENTS_PER_BATCH", "MAX_RETRIES"}


def _const(node) -> str | None:
    return node.value if isinstance(node, ast.Constant) and isinstance(node.value, str) else None


def _env_reads(tree: ast.AST) -> list[tuple[str | None, str | None, int]]:
    """(variable name or None for a whole-environment read, enclosing
    function, line) for every os.environ / os.getenv use in ``tree``."""
    parents = {child: node for node in ast.walk(tree) for child in ast.iter_child_nodes(node)}

    def enclosing(node):
        while node in parents:
            node = parents[node]
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                return node.name
        return None

    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            for alias in node.names:
                if alias.name in ("environ", "getenv"):
                    out.append((None, enclosing(node), node.lineno))
        if not (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
            and node.attr in ("environ", "getenv")
        ):
            continue
        parent = parents.get(node)
        name = None
        if node.attr == "getenv" and isinstance(parent, ast.Call) and parent.args:
            name = _const(parent.args[0])
        elif isinstance(parent, ast.Subscript):
            name = _const(parent.slice)
        elif isinstance(parent, ast.Attribute) and parent.attr == "get":
            call = parents.get(parent)
            if isinstance(call, ast.Call) and call.args:
                name = _const(call.args[0])
        out.append((name, enclosing(node), node.lineno))
    return out


def _settings_read_in(tree: ast.AST, func: str) -> set[str]:
    """String keys passed to ``<copy>.get(...)`` inside function ``func``."""
    names = set()
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef) and fn.name == func:
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "get"
                    and node.args
                    and _const(node.args[0])
                ):
                    names.add(node.args[0].value)
    return names


def test_product_code_reads_only_deployment_settings():
    bad = []
    for py in sorted(PKG.rglob("*.py")):
        tree = ast.parse(py.read_text(encoding="utf-8"))
        rel = py.relative_to(PKG).as_posix()
        for name, func, line in _env_reads(tree):
            if name in ALLOWED:
                continue
            if name is None and (rel, func) in WHOLE_ENV_READERS:
                extra = _settings_read_in(tree, func) - REFERENCE_SETTINGS
                if not extra:
                    continue
                name = ", ".join(sorted(extra))
            bad.append(f"{rel}:{line} reads {name or 'the whole environment'}")
    assert not bad, "environment reads outside the deployment allowlist:\n" + "\n".join(bad)


def test_guard_sees_every_read_form():
    src = (
        "import os\n"
        "from os import environ\n"
        "def f():\n"
        "    os.environ.get('A')\n"
        "    os.environ['B']\n"
        "    os.getenv('C', '1')\n"
        "    dict(os.environ)\n"
    )
    reads = sorted(_env_reads(ast.parse(src)), key=lambda r: r[2])
    assert [(n, line) for n, _, line in reads] == [
        (None, 2), ("A", 4), ("B", 5), ("C", 6), (None, 7)
    ]
