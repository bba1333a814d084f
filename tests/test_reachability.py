"""Every top-level definition in ``mre/`` must be reachable from what runs
the program: the CLIs (``scripts/``), the benchmark (``perfbench/``) or
mre's own module-level code, directly or through another reached
definition. Tests and oracles are not roots: code that only a test or
the oracle registry (``__spark_entry__.py``) reaches is dead weight — an
oracle checks code the program runs, it is not a reason to keep code.
Static (AST) scan, no Spark.

A reference is a name or a ``module.attr`` access resolved through the
module's imports; names in ``__all__`` and in docstrings are strings and
never count. The only exemptions are the test-support definitions below
(fixture writers, the golden diff, the fuzz reference parser and the
lineage reader), which are roots as well.

The same rule holds for options: every parameter with a default of the
three job entry points (``run_extract``, ``run_curate``, ``run_corpus``)
must be passed by name from a CLI or the benchmark, or it is an option
nothing sets."""

import ast
import functools
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TEST_SUPPORT = {"golden_diff", "gen_golden", "write_fixture_parquet",
                "write_warc_gz", "write_wet_gz", "write_sitemap",
                "parse_doc_stdlib", "read_curate_lineage",
                # oracle fixture writers (linkgraph, sources.cdx):
                # inputs for oracles of kept operators
                "robots_txt_of", "format_cdxj_line", "write_cdxj_gz"}


def _mre_modules() -> dict:
    """module name -> parsed AST for every .py file under mre/."""
    mods = {}
    for d, _, files in os.walk(os.path.join(ROOT, "mre")):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(d, f), ROOT)[:-3]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                mods[".".join(parts)] = ast.parse(fh.read())
    return mods


def _root_files() -> dict:
    """pseudo-module name -> AST for the entry points outside mre/."""
    paths = []
    for sub in ("scripts", "perfbench"):
        paths += [os.path.join(ROOT, sub, f)
                  for f in sorted(os.listdir(os.path.join(ROOT, sub)))
                  if f.endswith(".py")]
    out = {}
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            out["<root>." + os.path.relpath(p, ROOT)] = ast.parse(fh.read())
    return out


def _definitions(tree) -> dict:
    """Top-level name -> node: functions, classes and assigned names
    (constants, schemas), minus ``__all__`` and other dunders."""
    defs = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            defs[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and not (
                            n.id.startswith("__") and n.id.endswith("__")):
                        defs[n.id] = node
    return defs


def _imports(modname: str, tree, is_pkg: bool, modules) -> dict:
    """local alias -> ("mod", module) or ("sym", module, name), from every
    import statement in the file (function-local ones included)."""
    pkg = modname if is_pkg else modname.rpartition(".")[0]
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = ("mod", a.name)
                else:
                    out[a.name.split(".")[0]] = ("mod", a.name.split(".")[0])
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = pkg.split(".")
                base = base[:len(base) - (node.level - 1)]
                src = ".".join(base + ([node.module] if node.module else []))
            else:
                src = node.module or ""
            for a in node.names:
                sub = f"{src}.{a.name}"
                out[a.asname or a.name] = (("mod", sub) if sub in modules
                                           else ("sym", src, a.name))
    return out


def _refs(node, modname: str, defs: dict, imports: dict) -> set:
    """(module, name) pairs a code body refers to."""
    refs = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            if n.id in defs.get(modname, {}):
                refs.add((modname, n.id))
            imp = imports.get(n.id)
            if imp and imp[0] == "sym":
                refs.add((imp[1], imp[2]))
        elif isinstance(n, ast.Attribute):
            chain = []
            v = n
            while isinstance(v, ast.Attribute):
                chain.append(v.attr)
                v = v.value
            imp = imports.get(v.id) if isinstance(v, ast.Name) else None
            if imp and imp[0] == "mod":
                # mre.io.read_table / FX.golden_row / mre.core.x.y
                mod = imp[1]
                for attr in reversed(chain):
                    refs.add((mod, attr))
                    mod = f"{mod}.{attr}"
    return refs


@functools.lru_cache(maxsize=1)
def scan() -> tuple[set, set]:
    """(every mre definition, the reached ones) as (module, name) pairs."""
    modules = _mre_modules()
    roots = _root_files()
    defs = {m: _definitions(t) for m, t in modules.items()}
    imports = {}
    for m, t in modules.items():
        is_pkg = any(k.startswith(m + ".") for k in modules)
        imports[m] = _imports(m, t, is_pkg, modules)
    for m, t in roots.items():
        imports[m] = _imports(m, t, False, modules)

    def resolve(ref, depth=0):
        mod, name = ref
        if name in defs.get(mod, {}):
            return ref
        imp = imports.get(mod, {}).get(name)
        if imp and imp[0] == "sym" and depth < 8:
            return resolve((imp[1], imp[2]), depth + 1)
        return None

    frontier = set()
    for m, t in roots.items():
        frontier |= _refs(t, m, defs, imports[m])
    for m, t in modules.items():
        for node in t.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef, ast.Assign,
                                     ast.AnnAssign, ast.Import,
                                     ast.ImportFrom)):
                frontier |= _refs(node, m, defs, imports[m])
        frontier |= {(m, n) for n in defs[m] if n in TEST_SUPPORT}
    reached = set()
    while frontier:
        ref = resolve(frontier.pop())
        if ref is None or ref in reached:
            continue
        reached.add(ref)
        mod, name = ref
        frontier |= _refs(defs[mod][name], mod, defs, imports[mod])
    every = {(m, n) for m in defs for n in defs[m]}
    return every, reached


def test_every_mre_definition_is_reached():
    every, reached = scan()
    dead = sorted(f"{m}.{n}" for m, n in every - reached)
    assert not dead, ("defined in mre/ but reached by no CLI, benchmark "
                      "workload or kept module (tests and oracles are not "
                      f"roots): {dead}")


@pytest.mark.parametrize("name", sorted(TEST_SUPPORT))
def test_exemption_is_a_definition(name):
    """An exemption that names nothing would hide a stale list."""
    every, _ = scan()
    assert sum(1 for _, n in every if n == name) == 1


# job entry point -> the module defining it
ENTRY_POINTS = {"run_extract": "mre.pipeline", "run_curate": "mre.curate",
                "run_corpus": "mre.curate"}


def _entry_def(name: str):
    return next(node for node in _mre_modules()[ENTRY_POINTS[name]].body
                if isinstance(node, ast.FunctionDef) and node.name == name)


def _defaulted_params(fn) -> set:
    """Names of ``fn``'s parameters that carry a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    named = pos[len(pos) - len(a.defaults):] if a.defaults else []
    named += [k for k, d in zip(a.kwonlyargs, a.kw_defaults)
              if d is not None]
    return {p.arg for p in named}


def _passed_keywords() -> dict:
    """entry point -> keyword names passed to it by name from a call in
    ``scripts/`` or ``perfbench/``. A keyword passed to ``run_corpus``
    that ``run_corpus`` does not name itself counts for ``run_curate``,
    which receives it through ``**curate_knobs``."""
    corpus = _entry_def("run_corpus").args
    corpus_own = {p.arg for p in (corpus.posonlyargs + corpus.args
                                  + corpus.kwonlyargs)}
    passed = {name: set() for name in ENTRY_POINTS}
    for tree in _root_files().values():
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = (f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None)
            if name not in ENTRY_POINTS:
                continue
            kws = {k.arg for k in n.keywords if k.arg is not None}
            passed[name] |= kws
            if name == "run_corpus":
                passed["run_curate"] |= kws - corpus_own
    return passed


@pytest.mark.parametrize("entry", sorted(ENTRY_POINTS))
def test_every_option_is_set_by_a_root(entry):
    """A defaulted parameter that no CLI or benchmark call passes by name
    is an option no user can reach: delete it or wire it to a flag."""
    unset = sorted(_defaulted_params(_entry_def(entry))
                   - _passed_keywords()[entry])
    assert not unset, (f"{entry} options no CLI or benchmark call passes "
                       f"by name: {unset}")
