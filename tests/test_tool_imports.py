"""Every package name the tools, ``bench.py`` and ``perfbench`` import
must still exist. Those scripts import inside functions, so a renamed
or deleted package function breaks them only when that code path runs;
this walks their syntax trees instead, without starting Spark."""

from __future__ import annotations

import ast
import glob
import importlib
import os

PKG = "wallet_and_risky_features_data_pipeline_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package_imports():
    paths = sorted(
        glob.glob(os.path.join(ROOT, "tools", "*.py"))
        + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
        + [os.path.join(ROOT, "bench.py")]
    )
    for path in paths:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            where = f"{os.path.relpath(path, ROOT)}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
                for alias in node.names:
                    yield where, node.module, alias.name
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith(PKG):
                        yield where, alias.name, None


def test_tool_imports_of_the_package_resolve():
    seen = list(_package_imports())
    assert seen, "no package imports found — the scan is broken"
    broken = []
    for where, module, name in seen:
        try:
            mod = importlib.import_module(module)
        except ImportError as e:
            broken.append(f"{where}: {module} ({e})")
            continue
        if name is not None and name != "*" and not hasattr(mod, name):
            try:
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                broken.append(f"{where}: {module}.{name}")
    assert not broken, broken
