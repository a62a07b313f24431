"""Every top-level function and class under ``rag_database_spark/`` is
reachable from the driver entry surface (``queries``, ``prepare``,
``entry``, ``oracle_sql``) or from a name that ``tools/``, ``perfbench/``
or ``bench.py`` uses. Code that only tests reach is deleted, not kept.

The walk is over names, not resolved symbols: a reference to ``foo``
anywhere on a reachable path keeps every top-level ``foo``. That
over-approximates reachability, so a failure here is always real.

The same holds one level down for selector parameters: a defaulted
parameter that picks a branch by string value must be passed by some
call outside ``tests/``, matched by function name.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENTRY_ROOTS = {"queries", "prepare", "entry", "oracle_sql"}
ALLOWED_MODULES = {
    # perfbench/tracing.py wraps this module by name; deleting it is a
    # change to the benchmark, made on its own
    "rag_database_spark/operators/skew.py",
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def test_every_top_level_definition_is_reachable():
    defs, edges, roots = [], {}, set(ENTRY_ROOTS)
    package = sorted((ROOT / "rag_database_spark").rglob("*.py"))
    for path in [*package, ROOT / "__spark_entry__.py"]:
        rel = path.relative_to(ROOT).as_posix()
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
                edges.setdefault(st.name, set()).update(_names(st))
                if rel not in ALLOWED_MODULES:
                    defs.append(f"{rel}:{st.lineno} {st.name}")
            elif isinstance(st, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                used = _names(st.value) if st.value else set()
                for n in (n for t in targets for n in ast.walk(t)):
                    if isinstance(n, ast.Name):
                        edges.setdefault(n.id, set()).update(used)
            elif isinstance(st, (ast.Import, ast.ImportFrom)):
                for a in st.names:  # `import x as y`: a use of y reaches x
                    if a.asname:
                        edges.setdefault(a.asname, set()).add(
                            a.name.rsplit(".", 1)[-1]
                        )
            else:  # runs at import time
                roots |= _names(st)
    for pattern in ("tools/*.py", "perfbench/*.py", "bench.py"):
        for path in ROOT.glob(pattern):
            roots |= _names(ast.parse(path.read_text()))

    seen, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(edges.get(name, ()))
    unreachable = [d for d in defs if d.rsplit(" ", 1)[1] not in seen]
    assert not unreachable, (
        "top-level definitions no entry, tool or benchmark reaches "
        "(delete them):\n" + "\n".join(unreachable)
    )


# Selector parameters a production caller may leave at their default
# because a test needs the other branch as its reference.
SELECTOR_ALLOWLIST = {
    # test_mmr_local_equals_loop_exactly certifies the per-query Arrow
    # loop against the k-round DataFrame form that the oracle mirrors
    ("mmr_rerank", "impl"),
}


def _str_selectors(fn: ast.FunctionDef) -> set[str]:
    """Defaulted parameters of ``fn`` that its body compares against a
    string literal (``p == "x"``, ``p in ("x", "y")``)."""
    args = fn.args
    positional = args.posonlyargs + args.args
    defaulted = {a.arg for a in positional[len(positional) - len(args.defaults):]}
    defaulted |= {
        a.arg for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None
    }

    def is_str(node):
        if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
            return bool(node.elts) and all(map(is_str, node.elts))
        return isinstance(node, ast.Constant) and isinstance(node.value, str)

    out = set()
    for n in ast.walk(fn):
        if isinstance(n, ast.Compare):
            sides = [n.left, *n.comparators]
            names = {s.id for s in sides if isinstance(s, ast.Name)}
            if any(map(is_str, sides)):
                out |= names & defaulted
    return out


def _passes(call: ast.Call, fn: ast.FunctionDef, param: str) -> bool:
    """Whether ``call`` may bind ``param`` of ``fn``: by keyword, by
    position, or through ``*args``/``**kwargs``."""
    if any(k.arg in (param, None) for k in call.keywords):
        return True
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    positional = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    return param in positional and len(call.args) > positional.index(param)


def test_no_selector_parameter_only_tests_pass():
    """A defaulted parameter that selects a branch by string value
    (``impl="jvm"``, ``prefix_filter="auto"``) is a second code path.
    When no call outside ``tests/`` passes it, only tests reach the
    other branch: delete the branch and the parameter, or patch the
    module constant a size-based selection reads."""
    production = [
        *sorted((ROOT / "rag_database_spark").rglob("*.py")),
        ROOT / "__spark_entry__.py",
    ]
    others = [ROOT / "bench.py", *ROOT.glob("tools/*.py"),
              *ROOT.glob("perfbench/*.py")]
    trees = {p: ast.parse(p.read_text()) for p in [*production, *others]}
    calls = {}
    for tree in trees.values():
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(name, []).append(n)
    unused = []
    for path in production:
        for fn in ast.walk(trees[path]):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for param in sorted(_str_selectors(fn)):
                if (fn.name, param) in SELECTOR_ALLOWLIST:
                    continue
                if not any(_passes(c, fn, param) for c in calls.get(fn.name, ())):
                    rel = path.relative_to(ROOT).as_posix()
                    unused.append(f"{rel}:{fn.lineno} {fn.name}({param}=)")
    assert not unused, (
        "selector parameters no caller outside tests/ passes (delete "
        "the branch they select):\n" + "\n".join(unused)
    )
