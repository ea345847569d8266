"""Dead-code guards (no Spark): every top-level function and class in
``pycrawler_spark/`` must be referenced somewhere in the repository's
Python — engine, scripts, benchmark, driver entry or tests — and every
``CrawlConfig`` field must be read by the engine itself."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "pycrawler_spark")
SKIP_DIRS = {"__pycache__", "spark-warehouse", "metastore_db"}


def _python_files():
    for d, dirs, names in os.walk(ROOT):
        dirs[:] = [x for x in dirs if x not in SKIP_DIRS and not x.startswith(".")]
        for n in names:
            if n.endswith(".py"):
                yield os.path.join(d, n)


def test_no_unreferenced_top_level_definitions():
    defined = []
    referenced = set()
    for path in _python_files():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        if path.startswith(PACKAGE + os.sep):
            defined += [
                (os.path.relpath(path, ROOT), n.name)
                for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            ]
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                referenced.add(n.id)
            elif isinstance(n, ast.Attribute):
                referenced.add(n.attr)
            elif isinstance(n, ast.alias):
                referenced.add(n.name.rsplit(".", 1)[-1])
    dead = [f"{path}: {name}" for path, name in defined if name not in referenced]
    assert not dead, "defined but referenced nowhere:\n" + "\n".join(dead)


def test_every_config_field_read_by_engine():
    """A ``CrawlConfig`` field that only the simulator reads (or nothing
    reads) is a knob the engine ignores: it must be read as ``.name``
    somewhere in ``pycrawler_spark/`` outside ``simulator.py``
    (``config.py`` properties count)."""
    with open(os.path.join(PACKAGE, "config.py"), encoding="utf-8") as f:
        config = ast.parse(f.read())
    cls = next(n for n in config.body if isinstance(n, ast.ClassDef) and n.name == "CrawlConfig")
    fields = [n.target.id for n in cls.body if isinstance(n, ast.AnnAssign)]
    read = set()
    for path in _python_files():
        if not path.startswith(PACKAGE + os.sep) or path.endswith(os.sep + "simulator.py"):
            continue
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        read.update(n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute))
    unread = [name for name in fields if name not in read]
    assert not unread, "CrawlConfig fields the engine never reads: " + ", ".join(unread)
