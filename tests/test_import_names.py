"""Every ``cuckoo_filter_spark`` name that the scripts, the bench,
the driver entry point and the benchmark import must exist, so a
removed or renamed name fails here instead of in a long run. Parses
the files with ``ast`` (nothing is executed) and needs no Spark
session."""

import ast
import importlib
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
FILES = sorted(
    [*ROOT.glob("scripts/*.py"), *ROOT.glob("perfbench/*.py"),
     ROOT / "bench.py", ROOT / "__spark_entry__.py"]
)


def _package_imports(path: pathlib.Path):
    """(module, name or None) for every package import in ``path``,
    at any depth (imports inside functions count)."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module or ""
        ).startswith("cuckoo_filter_spark"):
            for alias in node.names:
                yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith("cuckoo_filter_spark"):
                    yield alias.name, None


def test_files_found():
    names = {p.name for p in FILES}
    assert {"bench.py", "__spark_entry__.py", "workloads.py"} <= names


@pytest.mark.parametrize("path", FILES, ids=lambda p: str(p.relative_to(ROOT)))
def test_package_imports_resolve(path):
    missing = []
    for module, name in _package_imports(path):
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        try:  # a submodule not yet imported by its package
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{module}.{name}")
    assert not missing, f"{path.name} imports missing names: {missing}"
