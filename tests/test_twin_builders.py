"""Each sampled twin is its original called with different parameters.

Structure only (no Spark): the incremental screen has one owner
(``operators/dedup.screen_increment``), so no query module and not the
ingest stream spell out the cross-LSH step themselves; and x50s, x66s,
x68s and x97s call the same module-level builder or operator as their
originals, so a reshape of one cannot miss the other.
``streaming/cascade_audit.py`` runs a different operation (a recall
audit) and keeps its own ``lsh_candidate_pairs_cross`` call.
"""

from __future__ import annotations

import ast
from pathlib import Path

import dwh_etl_framework_spark

PKG = Path(dwh_etl_framework_spark.__file__).parent

# (original, twin) -> the builder both must call
TWINS = {
    ("x50_incremental_dedup", "x50s_incremental_dedup16"): "screen_increment",
    ("x66_split_leakage", "x66s_split_leakage_sampled"): "_split_leakage",
    (
        "x68_text_vector_consistency",
        "x68s_text_vector_consistency_sampled",
    ): "_text_vector_consistency",
    ("x97_cascade_recall_audit", "x97s_cascade_audit_sampled"): "_recall_audit",
}


def _module_functions() -> dict[str, tuple[Path, ast.FunctionDef]]:
    found = {}
    for path in sorted((PKG / "queries").glob("*.py")) + [PKG / "operators" / "dedup.py"]:
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef):
                found[node.name] = (path, node)
    return found


def _callees(fn: ast.FunctionDef) -> set[str]:
    names = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Name):
                names.add(f.id)
            elif isinstance(f, ast.Attribute):
                names.add(f.attr)
    return names


def test_only_the_operator_runs_the_cross_lsh_step():
    paths = sorted((PKG / "queries").glob("*.py")) + [
        PKG / "streaming" / "ingest_dedup.py"
    ]
    found = [
        f"{p.relative_to(PKG)}:{n}"
        for p in paths
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "lsh_candidate_pairs_cross(" in line
    ]
    assert not found, "cross-LSH step spelled outside screen_increment:\n" + "\n".join(found)


def test_screen_batch_calls_the_operator():
    tree = ast.parse((PKG / "streaming" / "ingest_dedup.py").read_text())
    fn = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "screen_batch"
    )
    assert "screen_increment" in _callees(fn)


def test_each_twin_calls_its_originals_builder():
    fns = _module_functions()
    wrong = []
    for (orig, twin), builder in TWINS.items():
        assert builder in fns, f"{builder} is not a module-level function"
        for name in (orig, twin):
            if builder not in _callees(fns[name][1]):
                wrong.append(f"{name} does not call {builder}")
    assert not wrong, "\n".join(wrong)
