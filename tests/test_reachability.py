"""Every top-level function and class under ``rag_database_spark/`` is
reachable from the driver entry surface (``queries``, ``prepare``,
``entry``, ``oracle_sql``) or from a name that ``tools/``, ``perfbench/``
or ``bench.py`` uses. Code that only tests reach is deleted, not kept.

The walk is over names, not resolved symbols: a reference to ``foo``
anywhere on a reachable path keeps every top-level ``foo``. That
over-approximates reachability, so a failure here is always real.
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
