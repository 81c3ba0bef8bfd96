"""Every public top-level definition in the package is reached from
outside ``tests/``: by a query, ``bench.py``, ``__spark_entry__.py``,
``perfbench/`` or ``tools/``, or by other package code.

A static scan with ``ast``, no Spark: a definition counts as reached
when some ``Name``, ``Attribute`` or ``from ... import`` names it,
outside its own body and outside ``__init__.py`` re-exports. Docstrings
and comments are not references. Code only tests call belongs in
``tests/`` (``support.py``, ``plan_inspect.py``); code nothing calls is
deleted with its tests; the few definitions kept on purpose are listed
in ``_KEPT`` with the reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "map_reduce_project_spark"

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# Public package definitions with no caller outside tests/, kept on
# purpose. This table may only shrink: an entry leaves when its
# definition gains a caller, moves to tests/ or is deleted.
_KEPT = {
    "operators/layout.py:zorder_layout": (
        "the single Z-order layout writer; q44 gates the code it sorts by"
    ),
    "operators/dedup.py:minhash_sizing": (
        "corpus-scale sizing rule documented in SCALING.md"
    ),
    "operators/similarity.py:ivf_sizing": (
        "corpus-scale sizing rule documented in SCALING.md"
    ),
    "operators/similarity.py:lsh_planes_sizing": (
        "corpus-scale sizing rule documented in SCALING.md"
    ),
    "operators/similarity.py:ivf_topk": (
        "MLlib-quantizer twin of ivf_topk_pinned documented in SCALING.md"
    ),
    "operators/scale.py:salted_join": "skew lever documented in SCALING.md",
    "operators/scale.py:write_bucketed": (
        "bucketing lever documented in SCALING.md"
    ),
    "operators/sampling.py:cap_per_group_skew": (
        "skew twin of cap_per_group, pinned row-equal to it by test"
    ),
    "operators/multimodal.py:pil_decode_backend": (
        "codec adapter a deployment passes as decode_backend= "
        "(Pillow is optional)"
    ),
    "operators/multimodal.py:soundfile_decode_backend": (
        "codec adapter a deployment passes as decode_backend= "
        "(soundfile is optional)"
    ),
    "streaming/sinks.py:foreach_batch_parquet": (
        "foreachBatch sink factory a streaming deployment starts"
    ),
    "streaming/sinks.py:durable_incremental_cc_fold": (
        "streaming CC maintenance path documented in SCALING.md"
    ),
    "streaming/sinks.py:kafka_source": (
        "Kafka ingest scaffold named in README (connector not bundled)"
    ),
    "streaming/sinks.py:parse_kafka_json": (
        "Kafka ingest scaffold named in README (connector not bundled)"
    ),
}


def _sources():
    yield from PKG.rglob("*.py")
    yield ROOT / "bench.py"
    yield ROOT / "__spark_entry__.py"
    for sub in ("perfbench", "tools"):
        for path in (ROOT / sub).rglob("*.py"):
            if not path.name.startswith("test_"):
                yield path


def _scan() -> tuple[dict[str, str], set[str]]:
    """({"<module path>:<name>": name} for public top-level package
    definitions, the names referenced outside their own bodies)."""
    defs: dict[str, str] = {}
    refs: set[str] = set()
    for path in _sources():
        tree = ast.parse(path.read_text(), str(path))
        tops = [n for n in tree.body if isinstance(n, _DEFS)]
        if path.is_relative_to(PKG):
            rel = path.relative_to(PKG).as_posix()
            for node in tops:
                if not node.name.startswith("_"):
                    defs[f"{rel}:{node.name}"] = node.name
        spans = [(n.name, n.lineno, n.end_lineno) for n in tops]
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, ast.ImportFrom):
                if path.name == "__init__.py":
                    continue  # a re-export is not a caller
                names = [alias.name for alias in node.names]
            else:
                continue
            for name in names:
                if not any(
                    name == own and lo <= node.lineno <= hi
                    for own, lo, hi in spans
                ):
                    refs.add(name)
    return defs, refs


def test_every_public_definition_is_reached():
    defs, refs = _scan()
    unreached = {
        key for key, name in defs.items() if name not in refs
    } - _KEPT.keys()
    assert not unreached, (
        "public package definitions with no caller outside tests/: "
        f"{sorted(unreached)}; give each a caller, move it to tests/, "
        "or delete it with its tests"
    )


def test_kept_entries_are_current_and_unreached():
    # a kept definition that was deleted or gained a caller leaves
    # the table, so the table can only shrink
    defs, refs = _scan()
    stale = {key for key in _KEPT if key not in defs or defs[key] in refs}
    assert not stale, f"remove from _KEPT: {sorted(stale)}"
