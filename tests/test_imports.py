"""Every `triplestore_spark` import in the package, the tools, the
benchmark harness and the entry scripts names a module and a name that
exist — module-level and function-local imports alike, plus attribute
reads through an imported module alias (`TS.filter_documents`).

Checked statically with `ast`, so a deleted module or function shows up
here rather than only when a rarely run tool reaches its import."""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "triplestore_spark"


def _sources():
    out = []
    for top in (PKG, "tools", "perfbench"):
        for root, _dirs, files in os.walk(os.path.join(REPO, top)):
            out += [
                os.path.join(root, f) for f in files if f.endswith(".py")
            ]
    out += [
        os.path.join(REPO, f)
        for f in os.listdir(REPO)
        if f.endswith(".py")
        and (f.startswith("bench") or f == "__spark_entry__.py")
    ]
    return sorted(out)


def _module_file(mod: str):
    base = os.path.join(REPO, *mod.split("."))
    for cand in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(cand):
            return cand
    return None


_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _bound_names(body) -> set:
    """Names a module binds at top level, looking into if/try/with
    blocks but not into function or class bodies."""
    names = set()
    for node in body:
        if isinstance(node, _SCOPES):
            names.add(node.name)
            continue
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                names.add(a.asname or a.name.split(".")[0])
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = getattr(node, "targets", [getattr(node, "target", None)])
            for t in targets:
                names |= {
                    n.id for n in ast.walk(t) if isinstance(n, ast.Name)
                }
        for field in ("body", "orelse", "finalbody", "handlers"):
            names |= _bound_names(getattr(node, field, []))
    return names


_NAMES: dict = {}


def _names_of(mod: str) -> set:
    if mod not in _NAMES:
        with open(_module_file(mod)) as f:
            _NAMES[mod] = _bound_names(ast.parse(f.read()).body)
    return _NAMES[mod]


def _is_module(mod: str) -> bool:
    return _module_file(mod) is not None


def _problems(path: str) -> list:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    where = os.path.relpath(path, REPO)
    bad = []
    aliases: dict = {}  # local name -> package modules it was bound to
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != PKG:
                    continue
                if not _is_module(a.name):
                    bad.append(f"{where}:{node.lineno}: no module {a.name}")
                elif a.asname:
                    aliases.setdefault(a.asname, set()).add(a.name)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            mod = node.module or ""
            if mod.split(".")[0] != PKG:
                continue
            if not _is_module(mod):
                bad.append(f"{where}:{node.lineno}: no module {mod}")
                continue
            for a in node.names:
                sub = f"{mod}.{a.name}"
                if _is_module(sub):
                    aliases.setdefault(a.asname or a.name, set()).add(sub)
                elif a.name != "*" and a.name not in _names_of(mod):
                    bad.append(f"{where}:{node.lineno}: {mod} has no {a.name}")
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            mods = aliases[node.value.id]
            if not any(
                node.attr in _names_of(m) or _is_module(f"{m}.{node.attr}")
                for m in mods
            ):
                bad.append(
                    f"{where}:{node.lineno}: {node.value.id}.{node.attr} "
                    f"is not in {sorted(mods)}"
                )
    return bad


def test_package_imports_resolve():
    sources = _sources()
    assert any(p.endswith("plan_report.py") for p in sources)
    assert [p for path in sources for p in _problems(path)] == []


def test_checker_sees_a_dangling_import(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "def f():\n"
        "    from triplestore_spark.operators.graph import RDFGraph, nope\n"
        "    from triplestore_spark.operators import gone_module\n"
        "    import triplestore_spark.missing\n"
        "    from triplestore_spark.operators import textstats as TS\n"
        "    return TS.filter_documents, TS.nope\n"
    )
    got = _problems(str(probe))
    assert len(got) == 4, got
    assert any("has no nope" in p for p in got)
    assert any("no gone_module" in p for p in got)
    assert any("no module triplestore_spark.missing" in p for p in got)
    assert any("TS.nope" in p for p in got)
