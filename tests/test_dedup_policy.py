"""Near-dup kernel policy: the MinHash and shingle stages and the
(bid, bv) band join live in operators/dedup.py only. Queries reach them
through its shared functions (``shingle_overlap``,
``candidate_overlap``, ``band_pairs``, ``minhash_candidates``,
``minhash_clusters``), so a hand-rolled copy of a pipeline step cannot
come back one query at a time."""

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dbt_project_spark",
)
HOME = "operators/dedup.py"
STAGES = {"minhash_signatures", "minhash_band_stack", "exploded_shingles"}


def _band_key(node) -> bool:
    return isinstance(node, (ast.List, ast.Tuple)) and sorted(
        e.value for e in node.elts if isinstance(e, ast.Constant)
    ) == ["bid", "bv"]


def _sites(path: str) -> list[tuple[str, int]]:
    """(what, line) of every stage call and every join on (bid, bv)."""
    tree = ast.parse(open(path).read(), path)
    sites = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = (
            f.attr if isinstance(f, ast.Attribute)
            else f.id if isinstance(f, ast.Name) else None
        )
        if name in STAGES:
            sites.append((name, node.lineno))
        keys = node.args[1:2] + [k.value for k in node.keywords if k.arg == "on"]
        if name == "join" and any(_band_key(k) for k in keys):
            sites.append(("join on (bid, bv)", node.lineno))
    return sites


def _all_sites() -> dict[str, list[tuple[str, int]]]:
    out = {}
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                if sites := _sites(path):
                    out[rel] = sites
    return out


def test_near_dup_stages_only_in_dedup_operators():
    sites = _all_sites()
    stray = {k: v for k, v in sites.items() if k != HOME}
    assert not stray, (
        f"near-dup stages outside {HOME}: {stray}; use its shared "
        "functions (minhash_candidates, band_pairs, candidate_overlap, "
        "shingle_overlap) instead"
    )
    seen = {what for what, _ in sites[HOME]}
    assert seen == STAGES | {"join on (bid, bv)"}, seen


def test_lint_sees_every_form(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "from x import exploded_shingles\n"
        "import x as D\n"
        "def a(df):\n    return exploded_shingles(df, 'id')\n"
        "def b(s):\n    return D.minhash_band_stack(s)\n"
        "def c(a, b):\n    return a.join(b, on=['bid', 'bv'])\n"
        "def d(a, b):\n    return a.join(b, ('bv', 'bid'))\n"
        "def e(a, b):\n    return a.join(b, on=['bid', 'doc'])\n"
    )
    assert [w for w, _ in _sites(str(src))] == [
        "exploded_shingles",
        "minhash_band_stack",
        "join on (bid, bv)",
        "join on (bid, bv)",
    ]
