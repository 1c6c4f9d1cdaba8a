"""Guards for the query chains the package writes once: each test scans
the ``duva_spark`` sources and fails when a chain is spelled out again
outside its one definition."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import duva_spark

ROOT = Path(duva_spark.__file__).parent
STRUCTURAL_FLAGS = {"pass_word_count", "pass_mean_len", "pass_symbol_ratio", "pass_alpha"}
INDEX_SUM = "list_aggregate(list_transform(range(1"


def _owned_nodes(tree: ast.AST):
    """(innermost enclosing function name or None, node) for every node."""

    def walk(node, owner):
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else owner
            yield inner, child
            yield from walk(child, inner)

    yield from walk(tree, None)


def _sites(match) -> list[str]:
    """``path:function`` of every node ``match`` accepts, package-wide."""
    out = []
    for path in sorted(ROOT.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for owner, node in _owned_nodes(tree):
            if match(node):
                out.append(f"{path.relative_to(ROOT)}:{owner}")
    return out


def _is_flag_column(node: ast.AST) -> bool:
    """A ``col("<structural flag>")`` call (``F.col`` or bare ``col``)."""
    if not (isinstance(node, ast.Call) and node.args):
        return False
    fn = node.func
    name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
    arg = node.args[0]
    return name == "col" and isinstance(arg, ast.Constant) and arg.value in STRUCTURAL_FLAGS


def test_structural_pass_written_only_in_textstats():
    """The four-flag structural conjunction reads its flag columns in
    ``textstats.structural_pass`` and nowhere else."""
    sites = _sites(_is_flag_column)
    assert sorted(set(sites)) == ["llm/textstats.py:structural_pass"], sites
    assert len(sites) == len(STRUCTURAL_FLAGS)


def test_index_order_sum_sql_written_only_in_index_sum_sql():
    """Every oracle dot, norm and squared distance goes through
    ``similarity.index_sum_sql``: the index-order ``list_aggregate`` fold
    is spelled once."""

    def spells_fold(node: ast.AST) -> bool:
        return (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and INDEX_SUM in "".join(node.value.split())
        )

    assert _sites(spells_fold) == ["llm/similarity.py:index_sum_sql"]


def _call_name(node: ast.AST) -> str | None:
    if not isinstance(node, ast.Call):
        return None
    fn = node.func
    return fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)


def test_bucket_pair_dedupe_written_only_in_bucket_pairs():
    """Every banded-LSH self-join under ``llm/`` dedupes its (id_a, id_b)
    pairs in ``minhash.bucket_pairs`` and nowhere else."""

    def dedupes_pairs(node: ast.AST) -> bool:
        if _call_name(node) != "dropDuplicates" or not node.args:
            return False
        arg = node.args[0]
        names = {e.value for e in getattr(arg, "elts", ()) if isinstance(e, ast.Constant)}
        return {"id_a", "id_b"} <= names

    sites = [s for s in _sites(dedupes_pairs) if s.startswith("llm/")]
    assert sites == ["llm/minhash.py:bucket_pairs"], sites


def test_affine_minhash_written_only_in_minhash_signature():
    """The affine MinHash minimum ``array_min(transform(hs, a·h+b mod P))``
    is spelled once, in ``minhash.minhash_signature``."""

    def spells_affine_min(node: ast.AST) -> bool:
        return (
            _call_name(node) == "array_min"
            and bool(node.args)
            and _call_name(node.args[0]) == "transform"
        )

    assert _sites(spells_affine_min) == ["llm/minhash.py:minhash_signature"]


def _rendered(node: ast.AST) -> str | None:
    """A string literal's text with each f-string field as ``{expr}``."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{" + ast.unparse(v.value) + "}"
            for v in node.values
        )
    return None


def test_hashed_shingle_sql_written_only_in_hashed_shingles_sql():
    """The oracle's hashed-shingle relation
    (``list_distinct(list_transform(sh, s -> H60 % P)) AS hs``) is
    spelled once, in ``llm_q._hashed_shingles_sql``."""
    cte = re.compile(r"list_distinct\(list_transform\([^)]*%\{_P\}\)\)AShs")

    def spells_cte(node: ast.AST) -> bool:
        text = _rendered(node)
        return text is not None and bool(cte.search("".join(text.split())))

    assert _sites(spells_cte) == ["queries/llm_q.py:_hashed_shingles_sql"]
