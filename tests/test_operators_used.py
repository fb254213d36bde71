"""Every public operator has a caller inside the package.

The operator library holds one implementation per primitive; a function
that only its own tests import is dead weight and gets deleted, not kept
as an alternative. This guard makes that rule a check: each module-level
public function in ``operators/*.py`` must be imported or referenced by
code (not a comment or docstring) in some other package module. A
package ``__init__.py`` re-export does not count as a use.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "gmall_flink_realtime4_spark"


def _referenced_names(tree: ast.AST) -> set[str]:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
    return names


def test_every_operator_has_a_package_caller():
    modules = {
        p: ast.parse(p.read_text(), filename=str(p)) for p in PKG.rglob("*.py")
    }
    unused = []
    for path in sorted((PKG / "operators").glob("*.py")):
        if path.name == "__init__.py":
            continue
        public = [
            n.name
            for n in modules[path].body
            if isinstance(n, ast.FunctionDef) and not n.name.startswith("_")
        ]
        users = set()
        for other, tree in modules.items():
            if other != path and other.name != "__init__.py":
                users |= _referenced_names(tree)
        unused += [f"{path.stem}.{f}" for f in public if f not in users]
    assert not unused, f"operators with no caller in the package: {unused}"
