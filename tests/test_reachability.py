"""Every top-level def under ``duva_spark/`` has a production caller.

A def is alive when it is a registered query, is named in a package
``__all__``, is referenced from module-level production code, is one of
the ``ENTRY_POINTS`` below, or is referenced by name (``ast.Name`` or
``ast.Attribute``, anywhere in the def, annotations included) from an
alive def. Only ``duva_spark/`` is scanned, so references from tests,
tools, ``bench.py`` and ``perfbench/`` never count. Everything here is
read from the AST: no module is imported and no Spark session starts.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import duva_spark

ROOT = Path(duva_spark.__file__).parent

#: User-called surface that no in-repo production code calls, each with
#: the reason it stays.
ENTRY_POINTS = {
    "api.serve": "runs the HTTP service; its ControlPlane annotation reaches the control plane and OAuth flow",
    "metrics.MetricsRegistry": "sync metrics with a text exposition a deployment serves",
    "middleware.configure_logging": "process logging setup a deployment calls once",
    "oauth.verify_access_token": "bearer-token check for callers of the API",
    "session.get_spark": "the shared SparkSession factory",
    "queries.load_all": "imports every query module and returns the registry",
    "sinks.read_version": "time travel to a retained dataset version",
    "sinks.delete_where": "keyed, versioned delete on a synced dataset",
    "sinks.compact": "small-file compaction of the current version",
    "sources.http.poll_async_export": "the OnaData async-export protocol (S1)",
    "egress.S3ArtifactClient": "artifact upload, download and presigned GET (K1/K2); boto3 is import-gated",
    "egress.artifact_key": "the S3 key layout of a dataset artifact (K2)",
    "egress.publish_to_tableau": "Tableau publish step (K4); its client is import-gated",
    "egress.export_hyper": "Hyper extract export (K1); tableauhyperapi is import-gated",
    "streaming.jobs.stream_upsert_sink": "foreachBatch upsert sink for a streaming sync",
    "streaming.jobs.ProgressRecorder": "per-batch streaming progress listener a job attaches",
    "shaping.ops.unflatten_groups": "inverse of group flattening into structs",
    "shaping.ops.labels_of": "reads back the label metadata include_labels attaches",
    "sources.csv_source.schema_from_form": "schema-first ingestion from XLSForm metadata",
    "llm.multimodal.resize_images": "resizes an image column through the Arrow decode path",
    "operators.zorder.cluster_by_zorder": "Z-order clustering layout operator",
    "llm.semdedup.choose_k": "picks the k-means k for semantic dedup",
}

#: Round history that does not belong in a registered description: round
#: tags such as r7, review notes and round numbers.
ROUND_HISTORY = re.compile(r"\br\d{1,2}\b|\bADVICE\b|\bverdict\b|\bround[- ]\d+\b")

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _modules():
    """(dotted module name relative to the package, path, tree)."""
    for path in sorted(ROOT.rglob("*.py")):
        parts = list(path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        yield ".".join(parts), path, ast.parse(path.read_text(), filename=str(path))


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _is_register(decorator: ast.AST) -> bool:
    fn = decorator.func if isinstance(decorator, ast.Call) else None
    return (getattr(fn, "id", None) or getattr(fn, "attr", None)) == "register"


def _scan():
    """(defs, by_name, roots): ``{qualified name: (path, node)}`` for
    every top-level def, the qualified names per bare name, and the
    qualified names alive without ENTRY_POINTS."""
    defs, registered, exported, module_refs = {}, set(), set(), set()
    for module, path, tree in _modules():
        for stmt in tree.body:
            if isinstance(stmt, _DEF):
                qual = f"{module}.{stmt.name}"
                defs[qual] = (path, stmt)
                if any(_is_register(d) for d in getattr(stmt, "decorator_list", [])):
                    registered.add(qual)
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            elif isinstance(stmt, ast.Assign) and any(
                getattr(t, "id", None) == "__all__" for t in stmt.targets
            ):
                exported |= set(ast.literal_eval(stmt.value))
            else:
                module_refs |= _names(stmt)
    by_name = {}
    for qual in defs:
        by_name.setdefault(qual.rsplit(".", 1)[1], []).append(qual)
    roots = registered | {q for n in exported | module_refs for q in by_name.get(n, [])}
    return defs, by_name, roots


def _alive(defs, by_name, roots) -> set[str]:
    alive, todo = set(roots), list(roots)
    while todo:
        for name in _names(defs[todo.pop()][1]):
            for qual in by_name.get(name, []):
                if qual not in alive:
                    alive.add(qual)
                    todo.append(qual)
    return alive


def _where(path: Path, node: ast.AST) -> str:
    return f"{path.relative_to(ROOT.parent)}:{node.lineno}"


def test_every_def_has_a_production_caller():
    defs, by_name, roots = _scan()
    alive = _alive(defs, by_name, roots | set(ENTRY_POINTS) & set(defs))
    dead = [f"{_where(*defs[q])} {q}" for q in sorted(defs) if q not in alive]
    assert not dead, "top-level defs no production code reaches:\n" + "\n".join(dead)


def test_entry_points_exist_and_are_needed():
    """Each entry point names a def, and none is reachable from the
    other roots and entry points without itself being declared."""
    defs, by_name, roots = _scan()
    missing = sorted(set(ENTRY_POINTS) - set(defs))
    assert not missing, f"ENTRY_POINTS names no def: {missing}"
    redundant = [
        ep
        for ep in sorted(ENTRY_POINTS)
        if ep in _alive(defs, by_name, roots | set(ENTRY_POINTS) - {ep})
    ]
    assert not redundant, f"reachable without ENTRY_POINTS: {redundant}"


def test_registered_descriptions_carry_no_round_history():
    """A ``register(description=...)`` says what the query returns and its
    contract; round tags and review notes live in CHANGES.md and git."""
    hits = []
    for _, path, tree in _modules():
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call) and _is_register(node)):
                continue
            for kw in node.keywords:
                if kw.arg != "description":
                    continue
                text = " ".join(
                    c.value
                    for c in ast.walk(kw.value)
                    if isinstance(c, ast.Constant) and isinstance(c.value, str)
                )
                found = ROUND_HISTORY.findall(text)
                if found:
                    hits.append(f"{_where(path, node)} {found}")
    assert not hits, "round history in registered descriptions:\n" + "\n".join(hits)
