"""Dead-code guard: every package-level function or class must be reachable
by name from an entry point, so code that only tests call cannot grow back.

Roots are the shipped entry points (ENTRY) plus the package's module-level
code (imports aside: importing a name is not using it).  From the roots the
scan follows every Name and attribute name through the bodies of the
package-level definitions they reach.  It is name-based, so it errs toward
"reached" (two definitions sharing a name are reached together).

ORACLES lists the test oracles and fixtures: reference implementations and
data generators that only tests call by design.  Whatever they reach counts
as reached too.  Stdlib ``ast`` only; no Spark.

The knob guard applies the same roots to options: a defaulted parameter
whose name marks a plan or threshold choice (KNOBS) must be set by some
call outside tests/, so an option only tests set cannot grow back.
"""

import ast
import fnmatch
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "tree_code_chunker_spark"
ENTRY = ["__spark_entry__.py", "bench.py", "jobs", "perfbench", "tools"]
ORACLES = {
    "chunk_spans_py",                              # the chunk fold, pure Python
    "minhash_signature_np", "simhash_np",          # dedup sketches
    "cell_np", "cell_at_res_np", "haversine_m_np",  # geo math
    "part1by1_np", "quantize_np", "tile_np",
    "_classify_cells_np", "_classify_cells_rings_np",  # PIP cover classes
    "gen_documents",                               # sources.datagen
}
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
KNOBS = ("res", "res_hist", "bucket_impl", "force", "max_rows",
         "shuffle_partitions", "broadcast_*", "*_cap", "max_iter", "method")


def _files(path):
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _used(nodes):
    return {n.id if isinstance(n, ast.Name) else n.attr
            for node in nodes for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))}


def _scan():
    defs, module_level = {}, set()
    for f in _files(PKG):
        for st in ast.parse(f.read_text()).body:
            if isinstance(st, DEFS):
                defs.setdefault(st.name, []).append(st)
                module_level |= _used(st.decorator_list)
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                module_level |= _used([st])
    entry = set(module_level)
    for e in ENTRY:
        entry |= _used(ast.parse(f.read_text()) for f in _files(ROOT / e))
    return defs, entry


def _reach(defs, roots):
    todo, seen = set(roots) & defs.keys(), set()
    while todo:
        name = todo.pop()
        seen.add(name)
        todo |= (_used(defs[name]) & defs.keys()) - seen
    return seen


def test_every_package_definition_is_reached_from_an_entry_point():
    defs, entry = _scan()
    dead = sorted(defs.keys() - _reach(defs, entry | ORACLES))
    assert not dead, f"reached only from tests (or from nothing): {dead}"


def test_oracle_allowlist_is_exact():
    """Each allowlisted name exists and no entry point reaches it, so the
    allowlist cannot hide a name that has since gained a real caller."""
    defs, entry = _scan()
    assert not ORACLES - defs.keys(), sorted(ORACLES - defs.keys())
    assert not ORACLES & _reach(defs, entry), sorted(ORACLES & _reach(defs, entry))


def _params(fn, skip):
    """(name, positional index or None, has default) of fn's parameters,
    `skip` leading ones (self) dropped."""
    a = fn.args
    pos = (a.posonlyargs + a.args)[skip:]
    first_default = len(pos) - len(a.defaults)
    return ([(p.arg, i, i >= first_default) for i, p in enumerate(pos)]
            + [(p.arg, None, d is not None)
               for p, d in zip(a.kwonlyargs, a.kw_defaults)])


def _callables():
    """Every package function and method by the name a call uses (a
    class's constructor by the class name) -> [(params, public)]."""
    out = {}
    for f in _files(PKG):
        for st in ast.parse(f.read_text()).body:
            if isinstance(st, FUNCS):
                out.setdefault(st.name, []).append(
                    (_params(st, 0), not st.name.startswith("_")))
            elif isinstance(st, ast.ClassDef):
                for m in st.body:
                    if not isinstance(m, FUNCS):
                        continue
                    name = st.name if m.name == "__init__" else m.name
                    out.setdefault(name, []).append(
                        (_params(m, 1), not name.startswith("_")))
    return out


def _supplied(call, params):
    """The parameters a call passes, by keyword or position, each with the
    expression it passes.  Nothing is read through a ** mapping; a *args
    splat passes every parameter from its position on."""
    got = {k.arg: k.value for k in call.keywords if k.arg is not None}
    for i, a in enumerate(call.args):
        for name, pos, _ in params:
            if pos is not None and (pos == i or isinstance(a, ast.Starred)
                                    and pos >= i):
                got.setdefault(name, a)
    return got


def _package_calls(callables):
    """Each call outside tests/ to a package callable, with the enclosing
    functions' (name, parameter names), innermost first."""
    out = []

    def visit(node, scopes, cls=None):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name in callables:
                out.append((name, node, scopes))
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, scopes, child.name)
            elif isinstance(child, FUNCS):
                fn = cls if cls and child.name == "__init__" else child.name
                params = {p for p, _, _ in _params(child, 0)}
                visit(child, [(fn, params), *scopes])
            else:
                visit(child, scopes)

    for root in [PKG] + [ROOT / e for e in ENTRY]:
        for f in _files(root):
            visit(ast.parse(f.read_text()), [])
    return out


def _unset_knobs():
    """Knob-named defaulted parameters of public package callables that no
    call outside tests/ sets.  A call passing an enclosing package
    function's own parameter through sets the callee's only if that
    parameter is set in turn (a required parameter of a public callable
    always is; a private one's is set by its callers)."""
    callables = _callables()
    params = [(name, p, default) for name, sigs in callables.items()
              for ps, public in sigs if public for p, _, default in ps]
    knobs = {(name, p) for name, p, default in params if default
             and any(fnmatch.fnmatchcase(p, k) for k in KNOBS)}
    is_set = {(name, p) for name, p, default in params if not default}
    through = set()
    for name, call, scopes in _package_calls(callables):
        for ps, _ in callables[name]:
            for p, value in _supplied(call, ps).items():
                owner = isinstance(value, ast.Name) and next(
                    (fn for fn, names in scopes if value.id in names), None)
                if owner in callables:
                    through.add(((owner, value.id), (name, p)))
                else:
                    is_set.add((name, p))
    while more := {dst for src, dst in through if src in is_set} - is_set:
        is_set |= more
    return sorted(f"{name}({p}=)" for name, p in knobs - is_set)


def test_every_plan_option_is_set_outside_tests():
    unset = _unset_knobs()
    assert not unset, f"options only tests set (or nothing sets): {unset}"
