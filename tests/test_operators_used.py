"""Import-layering and dead-code guards for the package.

The operator library holds one implementation per primitive; a function
that only its own tests import is dead weight and gets deleted, not kept
as an alternative. The plan modules are organised by domain and share
code only through ``operators/`` and ``functions/``, never through each
other's private names or function-body imports that dodge an import
cycle. Each rule is an AST check over code, so comments and docstrings
never count:

- each module-level public function in ``operators/*.py`` is imported or
  referenced by some other package module (a package ``__init__.py``
  re-export does not count as a use);
- no package module imports a ``_``-prefixed name from another package
  module;
- no package module imports a ``plans`` module inside a function body
  (``plans/__init__.py``'s ``load_all`` is the one registration entry);
- ``operators/`` and ``functions/`` import nothing from ``plans/``;
- every public package function (registered queries aside) and
  module-level UPPERCASE constant is referenced somewhere in the package,
  ``tests/``, ``tools/``, ``perfbench/`` or ``bench.py``;
- the word-3-gram construction is written once per engine, in
  ``operators/minhash.py``;
- the streaming near-dup twins write no pair join and no doc-id
  orientation of their own: each calls its family's pair path, built on
  ``operators.joins.candidate_pairs``;
- every public ``*_partials`` function is reached from a registered query
  (the query runs its twin's steps; the twin owns only its merge);
- the KMV sketch is written once per engine, in ``operators/hashing.py``;
- every public ``pipelines/dws.py`` function is called from a registered
  query, or shares a named step with one (three named apps), apart from
  two named exemptions.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "gmall_flink_realtime4_spark"


def _parse(paths) -> dict[Path, ast.Module]:
    return {p: ast.parse(p.read_text(), filename=str(p)) for p in paths}


def _package_modules() -> dict[Path, ast.Module]:
    return _parse(PKG.rglob("*.py"))


def _referenced_names(tree: ast.AST) -> set[str]:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.Name) and not isinstance(
            node.ctx, ast.Store
        ):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
    return names


def _package_imports(path: Path, tree: ast.Module):
    """(node, dotted target module, at module top level) for every
    ``from ... import`` of a package module in ``tree``."""
    top = {id(n) for n in tree.body}
    # the dotted package a relative import in ``path`` is resolved against
    pkg = list(path.relative_to(ROOT).with_suffix("").parts)[:-1]
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom):
            continue
        if node.level:
            base = pkg[: len(pkg) - node.level + 1]
            mod = base + (node.module.split(".") if node.module else [])
        else:
            mod = node.module.split(".")
        if mod[0] == PKG.name:
            yield node, ".".join(mod), id(node) in top


def _is_plans_module(target: str, names: list[str]) -> bool:
    """True when an import pulls in a module file under ``plans/``."""
    parts = target.split(".")
    if parts[1:2] != ["plans"]:
        return False
    if len(parts) > 2:
        return True
    return any((PKG / "plans" / f"{n}.py").exists() for n in names)


def test_every_operator_has_a_package_caller():
    modules = _package_modules()
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


def test_no_private_names_imported_across_modules():
    private = [
        f"{p.relative_to(PKG)}:{node.lineno} {a.name}"
        for p, tree in _package_modules().items()
        for node, _, _ in _package_imports(p, tree)
        for a in node.names
        if a.name.startswith("_")
    ]
    assert not private, f"private names imported from another module: {private}"


def test_no_function_body_imports_of_plans_modules():
    nested = [
        f"{p.relative_to(PKG)}:{node.lineno} {target}"
        for p, tree in _package_modules().items()
        if p != PKG / "plans" / "__init__.py"
        for node, target, at_top in _package_imports(p, tree)
        if not at_top
        and _is_plans_module(target, [a.name for a in node.names])
    ]
    assert not nested, f"plans modules imported inside functions: {nested}"


def test_operators_and_functions_do_not_import_plans():
    upward = [
        f"{p.relative_to(PKG)}:{node.lineno} {target}"
        for p, tree in _package_modules().items()
        if p.relative_to(PKG).parts[0] in ("operators", "functions")
        for node, target, _ in _package_imports(p, tree)
        if target.split(".")[1:2] == ["plans"]
    ]
    assert not upward, f"library code importing the query layer: {upward}"


def _is_registered_query(fn: ast.FunctionDef) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in fn.decorator_list
    )


def test_every_public_function_is_referenced():
    """Public functions and module-level UPPERCASE constants alike."""
    package = _package_modules()
    others = _parse(
        [
            *(ROOT / "tests").rglob("*.py"),
            *(ROOT / "tools").rglob("*.py"),
            *(ROOT / "perfbench").rglob("*.py"),
            ROOT / "bench.py",
        ]
    )
    refs = {
        path: _referenced_names(tree)
        for path, tree in {**package, **others}.items()
        # a package re-export is not a use
        if not (path.name == "__init__.py" and PKG in path.parents)
    }
    unreferenced = []
    for path, tree in sorted(package.items()):
        elsewhere = set().union(*(r for p, r in refs.items() if p != path))
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and not _is_registered_query(
                node
            ):
                name = node.name
            elif (
                isinstance(node, ast.Assign)
                and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and node.targets[0].id.isupper()
            ):
                name = node.targets[0].id
            else:
                continue
            if name.startswith("_") or name in elsewhere:
                continue
            # the definition itself (a def's recursion) does not count
            if not any(
                name in _referenced_names(other)
                for other in tree.body
                if other is not node
            ):
                unreferenced.append(f"{path.relative_to(PKG)}::{name}")
    assert not unreferenced, (
        f"public functions and constants nothing references: {unreferenced}"
    )


# The SQL shingle join of three 1-based tokens (DuckDB list indexing).
_SQL_TRIGRAM = re.compile(
    r"t\[i\]\s*\|\|\s*' '\s*\|\|\s*t\[i\s*\+\s*1\]"
    r"\s*\|\|\s*' '\s*\|\|\s*t\[i\s*\+\s*2\]"
)
# Functions whose SQL joins three tokens for another primitive. The
# winnowing oracle hashes the ORDERED k-gram sequence inside a list lambda
# (positions and repeats kept, then a sliding-window min): a positional
# hash list, not a shingle row set, so the CTE builder cannot express it.
_SQL_TRIGRAM_EXEMPT = {("plans/dedup_queries.py", "_winnow_oracle")}


def _call_name(node: ast.AST) -> str | None:
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


# One token access of a word n-gram in Spark SQL text:
# ``element_at(<tokens>, i)`` or ``element_at(<tokens>, i + k)`` (also
# ``try_element_at``); group 1 is k.
_SQL_TOKEN_AT = re.compile(
    r"element_at\((?:[^()]|\([^()]*\))*?,\s*i(?:\s*\+\s*(\d+))?\s*\)"
)


def _is_spark_trigram(node: ast.AST) -> bool:
    """Three consecutive token accesses ``i + k``, ``i + k + 1``,
    ``i + k + 2`` by ``element_at``/``try_element_at``: in the lambda of a
    Python ``transform(sequence(...), lambda i: ...)``, or in one string of
    Spark SQL."""
    ks = set()
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        ks = {int(k or 0) for k in _SQL_TOKEN_AT.findall(node.value)}
    elif (
        _call_name(node) == "transform"
        and len(node.args) >= 2
        and _call_name(node.args[0]) == "sequence"
    ):
        for n in ast.walk(node.args[1]):
            if _call_name(n) not in ("element_at", "try_element_at"):
                continue
            i = n.args[1] if len(n.args) == 2 else None
            if isinstance(i, ast.Name):
                ks.add(0)
            elif (
                isinstance(i, ast.BinOp)
                and isinstance(i.op, ast.Add)
                and isinstance(i.left, ast.Name)
                and isinstance(getattr(i.right, "value", None), int)
            ):
                ks.add(i.right.value)
    return any({k + 1, k + 2} <= ks for k in ks)


def _docstring_ids(tree: ast.Module) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(body, list)
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
        ):
            ids.add(id(body[0].value))
    return ids


def test_word_trigram_construction_exists_once_per_engine():
    """Tokenization and the n<3 guard change in one place per engine."""
    home = "operators/minhash.py"
    spark, sql = [], []
    for path, tree in sorted(_package_modules().items()):
        rel = path.relative_to(PKG).as_posix()
        exempt = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef)
            and (rel, fn.name) in _SQL_TRIGRAM_EXEMPT
            for n in ast.walk(fn)
        }
        docs = _docstring_ids(tree)
        for node in ast.walk(tree):
            if id(node) in docs:
                continue
            if _is_spark_trigram(node):
                spark.append(f"{rel}:{node.lineno}")
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in exempt
            ):
                sql += [f"{rel}:{node.lineno}"] * len(
                    _SQL_TRIGRAM.findall(node.value)
                )
    problems = []
    for engine, sites in (("Spark", spark), ("SQL", sql)):
        at_home = [s for s in sites if s.startswith(f"{home}:")]
        surplus = at_home[1:] + [s for s in sites if s not in at_home]
        if not at_home or surplus:
            problems.append(
                f"{engine}: {len(at_home)} in {home},"
                f" {len(surplus)} surplus copies {surplus}"
            )
    assert not problems, (
        "the word-3-gram construction must exist once per engine, in"
        f" {home}: " + "; ".join(problems)
    )


def _mentions_doc_id(node: ast.AST) -> bool:
    return any(
        isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and "doc_id" in n.value
        for n in ast.walk(node)
    )


def test_streaming_twins_have_no_pair_join():
    """A change to banding, pair orientation or a score lands once: the
    near-dup twins call the batch queries' pair paths instead of joining
    doc pairs (a join comparing two doc-id columns) or orienting them
    (``least``/``greatest`` over doc ids) themselves."""
    path = PKG / "streaming" / "incremental.py"
    found = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        name = _call_name(node)
        if name in ("least", "greatest") and _mentions_doc_id(node):
            found.append(f"{name}:{node.lineno}")
        elif name == "join" and any(
            isinstance(c, ast.Compare)
            and sum(map(_mentions_doc_id, [c.left, *c.comparators])) >= 2
            for a in node.args
            for c in ast.walk(a)
        ):
            found.append(f"join:{node.lineno}")
    assert not found, (
        "streaming/incremental.py pairs docs itself; call the family's pair"
        f" path (operators.joins.candidate_pairs underneath): {found}"
    )


# Twins whose batch query keeps a head of its own, with the reason.
_PARTIALS_EXEMPT = {
    # composes shared operators/pq functions only; the batch trainer
    # reuses one checkpointed ``subint`` across its Lloyd steps, where the
    # partial would re-derive it per step
    "pq_train_partials",
}


def test_every_partials_function_runs_in_a_registered_query():
    """A batch query and its streaming twin share one path: the query
    calls the twin's ``*_partials`` (directly or through package
    functions), so the accumulate step cannot drift from the batch plan."""
    calls: dict[str, set[str]] = {}
    todo = []
    for tree in _package_modules().values():
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef):
                calls.setdefault(fn.name, set()).update(_referenced_names(fn))
                if _is_registered_query(fn):
                    todo.append(fn.name)
    reached = set()
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo += [n for n in calls.get(name, ()) if n in calls]
    orphans = sorted(
        n
        for n in calls
        if n.endswith("_partials")
        and not n.startswith("_")
        and n not in reached
        and n not in _PARTIALS_EXEMPT
    )
    assert not orphans, f"*_partials no registered query runs: {orphans}"


def _rendered_strings(tree: ast.Module):
    """(node, text) for every string in ``tree`` outside docstrings; an
    f-string renders its fields as ``{<source>}``."""
    docs = _docstring_ids(tree)
    parts = {
        id(v)
        for n in ast.walk(tree)
        if isinstance(n, ast.JoinedStr)
        for v in n.values
    }
    for node in ast.walk(tree):
        if id(node) in docs or id(node) in parts:
            continue
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node, node.value
        elif isinstance(node, ast.JoinedStr):
            yield node, "".join(
                v.value
                if isinstance(v, ast.Constant)
                else "{" + ast.unparse(v.value) + "}"
                for v in node.values
            )


# The KMV estimator ``(k - 1) * M div v`` (Spark) / ``// v`` (DuckDB).
_KMV_EST = re.compile(r"KMV_K\s*-\s*1\}?\)?\s*\*\s*\{?KMV_M\}?\)?\s*(div|//)")
# The ranked k-th CTE: the row ranked k (or the last one below k).
_KMV_KTH = re.compile(r"\brn\s*=\s*LEAST\(\s*n\s*,", re.IGNORECASE)
# The salt of the k-min fold: the hash's leading hex digit, mod a fanout.
_KMV_SALT = re.compile(r"substr\(\s*[\w{}]+\s*,\s*1\s*,\s*1\s*\)\s*\)\s*%")


def test_kmv_sketch_exists_once_per_engine():
    """The Spark k-min fold (salt + k-prefix slices), the sketch union
    and the estimator live in ``operators/hashing.py``'s ``kmv_*``
    helpers, the DuckDB estimator and k-th CTE in its ``kmv_sql``
    builder: every KMV query and oracle calls them."""
    home = "operators/hashing.py"
    found: dict[str, set[tuple[str, str]]] = {}
    for path, tree in sorted(_package_modules().items()):
        rel = path.relative_to(PKG).as_posix()
        owner = {
            id(n): getattr(top, "name", "<module>")
            for top in tree.body
            for n in ast.walk(top)
        }
        for node, text in _rendered_strings(tree):
            site = (rel, owner[id(node)])
            for m in _KMV_EST.finditer(text):
                engine = "spark" if m[1] == "div" else "duckdb"
                found.setdefault(f"{engine} estimator", set()).add(site)
            if _KMV_KTH.search(text):
                found.setdefault("duckdb k-th CTE", set()).add(site)
            if _KMV_SALT.search(text):
                found.setdefault("spark fold salt", set()).add(site)
        for node in ast.walk(tree):
            if _call_name(node) == "slice" and any(
                isinstance(a, ast.Name) and a.id == "KMV_K" for a in node.args
            ):
                site = (rel, owner[id(node)])
                found.setdefault("spark k-prefix", set()).add(site)
    homes = {
        "spark estimator": {(home, "kmv_estimate")},
        "duckdb estimator": {(home, "kmv_sql")},
        "duckdb k-th CTE": {(home, "kmv_sql")},
        "spark fold salt": {(home, "kmv_salt")},
        "spark k-prefix": {(home, "kmv_merge"), (home, "kmv_union")},
    }
    wrong = {k: sorted(found.get(k, set()) ^ v) for k, v in homes.items()}
    wrong = {k: v for k, v in wrong.items() if v}
    assert not wrong, (
        "the KMV sketch must be written once per engine, in"
        f" {home} (missing or surplus sites): {wrong}"
    )


# DWS transforms whose registered query still has a body of its own, with
# the reason.
_DWS_ONE_PATH_EXEMPT = {
    # the reference's uv/sv columns need a (mid, day) dedup shuffle the
    # registered page-view query does not run (ROADMAP item 7)
    "traffic_vc_ch_ar_is_new_page_view_window",
    # splits with the pandas-UDF tokenizer where the registered query uses
    # the JVM split, over ``documents``, which has no event time
    "traffic_source_keyword_page_view_window",
}

# DWS transforms whose registered query reads the driver tables straight
# into the transform's named batch steps: an adapter + the whole transform
# read slower than the former registered body (CHANGES.md).
_DWS_SHARED_STEPS = {
    "trade_cart_add_uu_window",
    "user_user_login_window",
    "trade_province_order_window",
}


def test_every_dws_transform_runs_in_a_registered_query():
    """A twinned DWS app has one path: its registered query is a
    ``tables`` adapter + the ``pipelines/dws.py`` transform, the same
    transform its streaming twin runs, or (``_DWS_SHARED_STEPS``) it calls
    a named step the transform calls too."""
    modules = _package_modules()
    called = set()
    for tree in modules.values():
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef) and _is_registered_query(fn):
                called |= {
                    _call_name(n) for n in ast.walk(fn) if _call_name(n)
                }
    public = {
        fn.name: fn
        for fn in modules[PKG / "pipelines" / "dws.py"].body
        if isinstance(fn, ast.FunctionDef) and not fn.name.startswith("_")
    }
    orphans = []
    for name, fn in public.items():
        if name in called or name in _DWS_ONE_PATH_EXEMPT:
            continue
        steps = {_call_name(n) for n in ast.walk(fn)} & called & set(public)
        if name not in _DWS_SHARED_STEPS or not steps:
            orphans.append(name)
    assert not orphans, (
        f"DWS transforms no registered query calls or shares a step with: {orphans}"
    )
