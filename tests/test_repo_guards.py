"""Cheap structural guards (no Spark session): library code must have a
caller outside tests/, every library parameter must be set by some
caller, sessions come only from get_spark, and the registry keeps its
stated order."""

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


def _held_code(node: ast.AST, docstrings: set[int]) -> ast.Module | None:
    """The module a string literal holds when it is code (a worker
    script): multi-line, not a docstring, and it parses."""
    if not (isinstance(node, ast.Constant) and isinstance(node.value, str)):
        return None
    if "\n" not in node.value or id(node) in docstrings:
        return None
    try:
        return ast.parse(node.value)
    except SyntaxError:
        return None


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
            elif (code := _held_code(node, docstrings)) is not None:
                used |= _names_used(code)
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


# What only operators/__init__.py may call: the two checkpoint APIs,
# the non-public py4j chain that frees a checkpoint's blocks
# (queryExecution().analyzed().rdd().unpersist), and the lazy cache
# APIs, so that materialize() is the one way to hold an intermediate.
CHECKPOINT_CALLS = {
    "localCheckpoint",
    "checkpoint",
    "queryExecution",
    "_unpersist_local_ckpt",
    "cache",
    "persist",
    "unpersist",
}


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
    """Intermediates are held and freed in one place: a package module
    other than operators/__init__.py that checkpoints, caches,
    persists or frees by hand regrows the seven hand-rolled loops, or a
    second hold whose release contract differs from materialize()'s."""
    found = _uses_outside(PKG / "operators" / "__init__.py", CHECKPOINT_CALLS)
    assert not found, "hold or free calls outside operators/__init__.py:\n" + "\n".join(found)


def test_env_reads_only_in_session():
    """Configuration comes from the environment in one place:
    session.py. A package module reading os.environ / os.getenv
    elsewhere grows an A/B knob the session does not know about."""
    found = _uses_outside(PKG / "session.py", {"environ", "environb", "getenv", "getenvb"})
    assert not found, "environment reads outside session.py:\n" + "\n".join(found)


def _with_held_code(tree: ast.AST):
    """Every node of `tree` and of the code held in its string literals,
    the latter numbered by their line in the file."""
    docstrings = _docstring_nodes(tree)
    for node in ast.walk(tree):
        yield node
        if (code := _held_code(node, docstrings)) is not None:
            yield from _with_held_code(ast.increment_lineno(code, node.lineno - 1))


def test_sessions_only_from_get_spark():
    """Sessions come from session.get_spark, which derives the master,
    parallelism, heap and engine settings from the host in one place. A
    SparkSession.builder anywhere else, worker scripts held in strings
    included, sets its own and drifts from the host."""
    found = []
    for path in _program_files():
        if path == PKG / "session.py":
            continue
        for node in _with_held_code(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "builder"
                and getattr(node.value, "id", getattr(node.value, "attr", None))
                == "SparkSession"
            ):
                found.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not found, "SparkSession.builder outside session.py:\n" + "\n".join(found)


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> list[str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    names = [p.arg for p in pos[len(pos) - len(a.defaults) :]]
    return names + [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]


def _calls_with_caller(tree: ast.AST):
    """(call, innermost enclosing def or None) for every call in `tree`,
    including the calls in code held in string literals."""
    docstrings = _docstring_nodes(tree)

    def visit(node: ast.AST, caller: ast.AST | None):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call):
                yield child, caller
            code = _held_code(child, docstrings)
            if code is not None:
                yield from _calls_with_caller(code)
            is_def = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            yield from visit(child, child if is_def else caller)

    yield from visit(tree, None)


def _unset_library_parameters() -> dict[str, set[str]]:
    """Defaulted parameters of package functions (queries/ aside: its
    defaulted helpers build oracle SQL) that no call sets, keyed by
    "path:line name". Callers are every program file and tests/. A call
    matches a def by name; it sets a parameter by keyword, by position
    (bound methods skip `self`), through `**kwargs` or a starred
    argument, or through `functools.partial`. Passing on a parameter of
    the calling function that is itself unset does not count."""
    callers = [*_program_files(), *(ROOT / "tests").glob("*.py")]
    trees = {p: ast.parse(p.read_text()) for p in callers}
    defs = []  # (key, def node, positional names a call binds)
    for path, tree in trees.items():
        if PKG not in path.parents or PKG / "queries" in path.parents:
            continue
        bound = set()
        for cls in ast.walk(tree):
            if isinstance(cls, ast.ClassDef):
                bound |= {
                    id(f)
                    for f in cls.body
                    if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not any(getattr(d, "id", None) == "staticmethod"
                                for d in f.decorator_list)
                }
        for fn in ast.walk(tree):
            is_def = isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
            if is_def and _defaulted(fn):
                pos = [p.arg for p in fn.args.posonlyargs + fn.args.args]
                key = f"{path.relative_to(ROOT)}:{fn.lineno} {fn.name}"
                defs.append((key, fn, pos[1:] if id(fn) in bound else pos))
    unset = {id(fn): set(_defaulted(fn)) for _, fn, _ in defs}
    by_name: dict[str, list] = {}
    for _, fn, pos in defs:
        by_name.setdefault(fn.name, []).append((fn, pos))

    calls = []
    for tree in trees.values():
        for call, caller in _calls_with_caller(tree):
            func, args = call.func, call.args
            name = getattr(func, "id", None) or getattr(func, "attr", None)
            if name == "partial" and args:
                name = getattr(args[0], "id", None) or getattr(args[0], "attr", None)
                args = args[1:]
            if name in by_name:
                calls.append((name, args, call.keywords, caller))

    changed = True
    while changed:  # a pass-through sets its target only once its source is set
        changed = False
        for name, args, keywords, caller in calls:
            relayed = unset.get(id(caller), set())

            def sets(arg: ast.expr) -> bool:
                return not (isinstance(arg, ast.Name) and arg.id in relayed)

            for fn, pos in by_name[name]:
                left = unset[id(fn)]
                done = set()
                for i, arg in enumerate(args):
                    if isinstance(arg, ast.Starred):
                        done |= set(pos[i:])
                        break
                    if i < len(pos) and sets(arg):
                        done.add(pos[i])
                for kw in keywords:
                    if kw.arg is None:
                        done |= left
                    elif sets(kw.value):
                        done.add(kw.arg)
                if left & done:
                    left -= done
                    changed = True
    return {key: unset[id(fn)] for key, fn, _ in defs if unset[id(fn)]}


def test_every_library_parameter_is_set_by_a_caller():
    """A defaulted parameter that no caller sets is an option nobody
    uses: it multiplies the configurations to test while only its
    default ever runs. Make it a constant (or the column name) instead.
    Tests count as callers, so a parameter only a test sets stays."""
    unset = _unset_library_parameters()
    lines = [f"{key}: {', '.join(sorted(ps))}" for key, ps in sorted(unset.items())]
    total = sum(len(params) for params in unset.values())
    assert not unset, f"{total} defaulted parameters no caller sets:\n" + "\n".join(
        lines
    )
