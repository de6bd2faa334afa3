"""The package reads no tuning knobs from the environment: replay
cadences, state partitions, widths and timeouts are module constants
(streaming_q.REPLAY and friends). Only the deployment settings in
session.py may come from the environment. Likewise only scratch.py
names a place on disk to write to, and only scratch.py reads a Spark
application id: it keys everything an application keeps and removes
the application's run dirs when the process exits."""

from __future__ import annotations

import ast
import os
import shutil
import subprocess
import sys
import uuid
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


def _string_literals(tree: ast.AST):
    """(line, text) for every string constant that is not a docstring."""
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docstrings
        ):
            yield node.lineno, node.value


def test_only_scratch_names_the_scratch_root():
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "scratch.py":
            continue
        for line, text in _string_literals(ast.parse(path.read_text())):
            if ".tmp" in text or "/root/" in text:
                bad.append(f"{path.relative_to(PKG.parent)}:{line}: {text!r}")
    assert not bad, "scratch paths outside scratch.py:\n" + "\n".join(bad)


def test_only_scratch_reads_the_application_id():
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "scratch.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "applicationId":
                bad.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert not bad, "application id read outside scratch.py:\n" + "\n".join(bad)


def test_run_dirs_removed_at_exit():
    """A process that made a run dir leaves nothing under the scratch
    root once it exits; a stub session stands in for Spark, so no JVM
    starts."""
    from hadoop_log_analysis_spark import scratch

    app_id = f"stub-{uuid.uuid4().hex}"
    child = f"""
import os, types
from hadoop_log_analysis_spark import scratch
sc = types.SimpleNamespace(applicationId={app_id!r})
path = scratch.run_dir(types.SimpleNamespace(sparkContext=sc), "probe")
os.makedirs(path)
open(os.path.join(path, "part-0"), "w").close()
print(path)
"""
    app_root = os.path.join(scratch.ROOT, app_id)
    try:
        out = subprocess.run(
            [sys.executable, "-c", child],
            cwd=PKG.parent, capture_output=True, text=True, check=True,
        ).stdout.strip()
        assert out.startswith(app_root + os.sep)
        assert not os.path.exists(app_root), f"{app_root} left after exit"
    finally:
        shutil.rmtree(app_root, ignore_errors=True)


def test_session_gives_python_workers_the_checkout(spark):
    """Python workers import the package from the checkout root, not
    from the driver's working directory: a script started elsewhere
    must still run its UDFs."""
    checkout = str(PKG.parent)
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.executorEnv.PYTHONPATH") == checkout
    assert spark.sparkContext.environment.get("PYTHONPATH") == checkout
