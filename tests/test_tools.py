"""The measurement tools under ``tools/``: each imports cleanly without
running, reads no env var but a path, and the scaling tool runs end to
end."""

from __future__ import annotations

import ast
import glob
import importlib.util
import json
import os
import subprocess
import sys
import time
import uuid

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
PATH_ENV_VARS = {"SPARK_GRAFT_SF_DIR", "ALL_MMAP_DIR"}


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports_without_running(path, monkeypatch):
    """A tool that imports a helper from a deleted script, or does its
    work at import time, fails here."""
    watched = glob.glob(os.path.join(REPO, "xponents_spark", "**", "*.py"),
                        recursive=True)
    before = {p: os.stat(p).st_mtime_ns for p in watched}
    monkeypatch.setattr(sys, "path", list(sys.path))
    name = "tool_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(getattr(module, "main", None))
    assert {p: os.stat(p).st_mtime_ns for p in watched} == before


def _env_reads(tree: ast.AST) -> list[str | None]:
    """Every env var a module reads: the key of each ``os.environ[...]``,
    ``os.environ.get(...)`` and ``os.getenv(...)``.  Any other use of
    ``os.environ`` (passing it on whole, say) reads as ``None``."""
    reads, seen = [], set()
    for node in ast.walk(tree):
        target = None
        if isinstance(node, ast.Subscript):
            target, key = node.value, node.slice
        elif isinstance(node, ast.Call) and isinstance(node.func,
                                                       ast.Attribute):
            if node.func.attr == "getenv":
                target, key = node.func, (node.args or [None])[0]
            elif node.func.attr == "get":
                target, key = node.func.value, (node.args or [None])[0]
        if target is not None and (
                isinstance(target, ast.Attribute)
                and target.attr in ("environ", "getenv")):
            seen.add(id(target))
            reads.append(key.value if isinstance(key, ast.Constant)
                         else None)
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "environ" \
                and id(node) not in seen:
            reads.append(None)
    return reads


def test_tools_read_only_path_env_vars():
    found = {}
    for path in TOOLS:
        with open(path) as fh:
            reads = _env_reads(ast.parse(fh.read()))
        bad = [r for r in reads if r not in PATH_ENV_VARS]
        if bad:
            found[os.path.basename(path)] = bad
    assert found == {}


def _procs_with(marker: str) -> list[int]:
    """Live processes whose environment holds ``marker``."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/environ", "rb") as fh:
                if marker.encode() in fh.read():
                    out.append(int(pid))
        except OSError:
            continue
    return out


def test_scaling_tool_smoke(sf_dir):
    """One round over a few thousand turns: both sides' outputs are
    equal, every key is reported, and no JVM, Python worker or kernel
    process outlives the tool."""
    marker = f"SCALING_SMOKE_{uuid.uuid4().hex}"
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, **{marker: "1"})
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "scaling.py"),
         "--rounds", "1", "--turns", "2000"],
        env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])

    assert res["outputs_equal"] is True
    assert res["turns"] >= 2000 and res["rounds"] == 1
    assert set(res) == {"sf_dir", "turns", "rounds", "host_cpus",
                        "outputs_equal", "output_sha256", "engine",
                        "kernel", "eff_vs_ceiling"}
    for side in ("engine", "kernel"):
        s = res[side]
        assert set(s) == {"wall_s", "rows_per_s", "cpu_s", "eff",
                          "eff_median", "eff_range"}
        for key in ("wall_s", "rows_per_s", "cpu_s"):
            assert set(s[key]) == {"1", "4"}
            assert all(len(v) == 1 and v[0] > 0 for v in s[key].values())
        assert len(s["eff"]) == 1 and s["eff"][0] > 0

    deadline = time.monotonic() + 30
    while _procs_with(marker) and time.monotonic() < deadline:
        time.sleep(0.5)
    assert _procs_with(marker) == []
