"""Cheap structural guards (no Spark session): library code must have a
caller outside tests/, and the registry keeps its stated order."""

from __future__ import annotations

import ast
import hashlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "mpi_word_count_spark"


def _program_files() -> list[Path]:
    """Every Python file that is not a test: the package, the scripts
    at the repo root and the benchmark harness."""
    return [*PKG.rglob("*.py"), *ROOT.glob("*.py"), *(ROOT / "perfbench").glob("*.py")]


def _docstring_nodes(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                out.add(id(body[0].value))
    return out


def _names_used(tree: ast.AST, skip: tuple[int, int] | None = None) -> set[str]:
    """Identifiers a module uses: names, attributes, imports, strings
    that are identifiers (getattr/dispatch tables) and code held in
    string literals (worker scripts). Docstrings and comments are
    mentions, not uses. Nodes on lines inside `skip` are ignored."""
    docstrings = _docstring_nodes(tree)
    used: set[str] = set()
    for node in ast.walk(tree):
        line = getattr(node, "lineno", None)
        if skip and line is not None and skip[0] <= line <= skip[1]:
            continue
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.alias):
            used.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                used.add(node.value)
            elif "\n" in node.value and id(node) not in docstrings:
                try:
                    used |= _names_used(ast.parse(node.value))
                except SyntaxError:
                    pass
    return used


def _is_registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(fn, "id", getattr(fn, "attr", None)) == "register":
            return True
    return False


def test_no_library_code_reached_only_by_tests():
    """Every top-level def or class in the package is used somewhere
    outside tests/ other than its own definition. @register queries are
    exempt: the registry is their caller. Code that only builds fixtures
    or checks results belongs in tests/."""
    trees = {p: ast.parse(p.read_text()) for p in _program_files()}
    used_by_file = {p: _names_used(t) for p, t in trees.items()}
    orphans = []
    for path, tree in trees.items():
        if PKG not in path.parents:
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if _is_registered(node) or node.name.startswith("__"):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = _names_used(tree, skip=(first, node.end_lineno))
            if node.name in own or any(
                node.name in used for p, used in used_by_file.items() if p != path
            ):
                continue
            orphans.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not orphans, "defined but used only by tests (or nowhere):\n" + "\n".join(orphans)


# sha256 of the sorted registered names joined by "\n"; a change that adds or
# removes a query updates it (and the count) on purpose
REGISTRY_NAMES_SHA256 = "fc11c51547f4bfe5c2112b0c1351f06cd874d739da4c9aa2627689ead871a447"
REGISTRY_SIZE = 302


def test_registry_order_rule():
    """Flagship first, then registry.HEADLINE in its own order, then the
    rest in module-import order; the name set itself is pinned."""
    from mpi_word_count_spark import registry

    names = list(registry.queries())
    assert names[0] == "wordcount"
    lead = ["wordcount", *(n for n in registry.HEADLINE if n != "wordcount")]
    assert names[: len(lead)] == lead
    assert len(names) == len(set(names)) == REGISTRY_SIZE
    digest = hashlib.sha256("\n".join(sorted(names)).encode()).hexdigest()
    assert digest == REGISTRY_NAMES_SHA256


# What only the iteration driver (operators/__init__.py) may call: the
# two checkpoint APIs and the non-public py4j chain that frees a
# checkpoint's blocks (queryExecution().analyzed().rdd().unpersist).
CHECKPOINT_CALLS = {"localCheckpoint", "checkpoint", "queryExecution", "_unpersist_local_ckpt"}


def _uses_outside(allowed: Path, names: set[str]) -> list[str]:
    """Every use of one of `names` (attribute, name or imported alias)
    in a package module other than `allowed`. Docstrings and comments
    are mentions, not uses."""
    found = []
    for path in PKG.rglob("*.py"):
        if path == allowed:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            name = getattr(node, "attr", None) or getattr(node, "id", None)
            if isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            if name in names:
                found.append(f"{path.relative_to(ROOT)}:{node.lineno} {name}")
    return found


def test_checkpointing_only_in_the_iteration_driver():
    """Round state is materialized and freed in one place: a package
    module other than operators/__init__.py that checkpoints or frees a
    checkpoint by hand regrows the seven hand-rolled loops."""
    found = _uses_outside(PKG / "operators" / "__init__.py", CHECKPOINT_CALLS)
    assert not found, "checkpoint calls outside operators/__init__.py:\n" + "\n".join(found)


def test_env_reads_only_in_session():
    """Configuration comes from the environment in one place:
    session.py. A package module reading os.environ / os.getenv
    elsewhere grows an A/B knob the session does not know about."""
    found = _uses_outside(PKG / "session.py", {"environ", "environb", "getenv", "getenvb"})
    assert not found, "environment reads outside session.py:\n" + "\n".join(found)
