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
"""

import ast
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
