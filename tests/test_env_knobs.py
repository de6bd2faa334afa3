"""The package reads no tuning knobs from the environment: replay
cadences, state partitions, widths and timeouts are module constants
(streaming_q.REPLAY and friends). Only the deployment settings in
session.py may come from the environment."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "hadoop_log_analysis_spark"
ALLOWED = {"SPARK_GRAFT_CPUS", "HLA_DRIVER_MEM"}
ENV_NAMES = {"environ", "environb", "getenv", "getenvb"}


def _env_reads(tree: ast.AST):
    """(line, key) for every environment access; key is None unless it
    is a literal ``os.environ.get(k)`` / ``os.environ[k]`` /
    ``os.getenv(k)`` read."""
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            for alias in node.names:
                if alias.name in ENV_NAMES:
                    yield node.lineno, None
            continue
        if not (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
            and node.attr in ENV_NAMES
        ):
            continue
        parent, call, key = parents[node], None, None
        if isinstance(parent, ast.Call) and parent.func is node:
            call = parent
        elif isinstance(parent, ast.Attribute) and parent.attr == "get":
            call = parents.get(parent)
        elif isinstance(parent, ast.Subscript) and isinstance(
            parent.slice, ast.Constant
        ):
            key = parent.slice.value
        if isinstance(call, ast.Call) and call.args and isinstance(
            call.args[0], ast.Constant
        ):
            key = call.args[0].value
        yield node.lineno, key


def test_package_reads_only_deployment_env():
    found, bad = set(), []
    for path in sorted(PKG.rglob("*.py")):
        for line, key in _env_reads(ast.parse(path.read_text())):
            where = f"{path.relative_to(PKG.parent)}:{line}"
            if key in ALLOWED:
                found.add(key)
            else:
                bad.append(f"{where} reads {key or 'the environment'}")
    assert not bad, "environment knobs in the package:\n" + "\n".join(bad)
    assert found == ALLOWED, f"scanner missed the deployment settings: {found}"
