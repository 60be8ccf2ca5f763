"""Builder scratch files have one owner: ``caching.scratch_dir`` makes a
directory that the next ``release_tracked`` (or the process's exit)
deletes, and the builder returns the lazy plan over its files.

- The lint fails on temp-file handling anywhere in the package outside
  SCRATCH_OWNERS, so builders cannot go back to deleting their own
  files (and collecting their result to survive the delete).
- The lifetime tests pin both release points.
"""

import ast
import glob
import os
import subprocess
import sys
import tempfile

from dbt_project_spark.catalog import QUERIES, load_all
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "dbt_project_spark")

# (module path under dbt_project_spark/, enclosing function or None for
# the whole module) -> why it may own temp files.
SCRATCH_OWNERS = {
    ("caching.py", None): "the scratch owner itself",
    ("operators/ivf.py", "ivf_index_dir"): "the IVF index is reused across processes",
    ("streaming/update_dist.py", "_prune_versions"): "drops superseded output versions",
}

_FORBIDDEN = {"mkdtemp", "gettempdir", "TemporaryDirectory", "rmtree"}


def _temp_sites(path: str) -> list[tuple[str, int]]:
    """(enclosing function, line) of every ``tempfile.mkdtemp``,
    ``tempfile.gettempdir``, ``TemporaryDirectory`` or ``shutil.rmtree``
    in a module: as an attribute, as a bare name, or where a
    ``from ... import`` brings it in under any alias."""
    tree = ast.parse(open(path).read(), path)
    sites = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name if func == "<module>" else func
        if (
            (isinstance(node, ast.Attribute) and node.attr in _FORBIDDEN)
            or (isinstance(node, ast.Name) and node.id in _FORBIDDEN)
            or (isinstance(node, ast.ImportFrom)
                and any(a.name in _FORBIDDEN for a in node.names))
        ):
            sites.append((func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return sites


def _all_sites() -> dict[tuple[str, str], list[int]]:
    out: dict[tuple[str, str], list[int]] = {}
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                for func, line in _temp_sites(path):
                    out.setdefault((rel, func), []).append(line)
    return out


def _owned(rel: str, func: str) -> bool:
    return (rel, None) in SCRATCH_OWNERS or (rel, func) in SCRATCH_OWNERS


def test_temp_files_only_in_scratch_owners():
    sites = _all_sites()
    stray = {k: v for k, v in sites.items() if not _owned(*k)}
    assert not stray, (
        f"temp-file handling outside the scratch owner {stray}: take the "
        "directory from caching.scratch_dir and return the lazy result"
    )
    # the allow-list only shrinks: an entry whose site is gone must go
    for rel, func in SCRATCH_OWNERS:
        assert any(r == rel and func in (None, f) for r, f in sites), (rel, func)


def test_lint_sees_every_temp_form(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "import shutil, tempfile\n"
        "from shutil import rmtree as rm\n"
        "from tempfile import TemporaryDirectory\n"
        "def a():\n    return tempfile.mkdtemp(prefix='x')\n"
        "def b():\n    return tempfile.gettempdir()\n"
        "def c():\n    return tempfile.TemporaryDirectory()\n"
        "def d(p):\n    shutil.rmtree(p)\n"
        "def e():\n    with TemporaryDirectory() as t:\n        return t\n"
        "def f(p):\n    rm(p)\n"
        "def g(p):\n    return tempfile.mkstemp()\n"
    )
    assert sorted({f for f, _ in _temp_sites(str(src))}) == [
        "<module>", "a", "b", "c", "d", "e"
    ]


def _scratch_dirs(prefix: str) -> set[str]:
    return set(glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")))


def test_builder_result_readable_until_release(spark):
    """A builder's scratch dir outlives the builder, so the lazy result
    reads it; ``release_tracked`` counts and deletes it."""
    from dbt_project_spark.caching import release_tracked

    load_all()
    before = _scratch_dirs("incremental_rollup_")
    df = QUERIES["incremental_daily_rollup"](spark, SF_SMOKE)
    made = _scratch_dirs("incremental_rollup_") - before
    assert len(made) == 1 and os.listdir(made.pop())
    n = df.count()
    assert n > 0 and len(df.collect()) == n  # read twice, files still there
    assert release_tracked() >= 1
    assert _scratch_dirs("incremental_rollup_") <= before


def test_scratch_removed_at_process_exit(tmp_path):
    code = (
        "import os\n"
        "from dbt_project_spark.caching import scratch_dir\n"
        "d = scratch_dir('exit_')\n"
        "open(os.path.join(d, 'part-0'), 'w').write('x')\n"
        "print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip().startswith(str(tmp_path))
    assert list(tmp_path.iterdir()) == []
