"""Static check over the package; no Spark session needed.

Lake tables are read through ``catalog.load_table`` (or ``read_files``),
which applies the session confs the lake needs and reuses an unchanged
table's inferred schema. A module that hands ``table_path(...)`` straight
to a ``spark.read`` call bypasses both, so no package module other than
``catalog.py`` may do it — neither with the call as an argument nor with a
name bound to it in the same function.
"""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "agentic_data_pipeline_spark")


def _is_table_path(node) -> bool:
    return (isinstance(node, ast.Call)
            and isinstance(node.func, (ast.Name, ast.Attribute))
            and (getattr(node.func, "id", None) == "table_path"
                 or getattr(node.func, "attr", None) == "table_path"))


def _is_spark_read(call: ast.Call) -> bool:
    """``<x>.read…(...)``: a call whose receiver chain passes through a
    ``read`` or ``readStream`` attribute."""
    node = call.func
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Call):
            node = node.func
            continue
        if node.attr in ("read", "readStream") and node is not call.func:
            return True
        node = node.value
    return False


def _bypasses(tree: ast.AST):
    """Line numbers of spark reads of a table_path; a name counts as bound
    to one within its top-level definition (or the module's own body)."""
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    scopes = [n for n in tree.body if isinstance(n, defs)]
    scopes.append(ast.Module(
        body=[n for n in tree.body if not isinstance(n, defs)],
        type_ignores=[]))
    for scope in scopes:
        bound = {t.id for n in ast.walk(scope) if isinstance(n, ast.Assign)
                 and _is_table_path(n.value)
                 for t in n.targets if isinstance(t, ast.Name)}
        for call in ast.walk(scope):
            if not (isinstance(call, ast.Call) and _is_spark_read(call)):
                continue
            args = call.args + [k.value for k in call.keywords]
            if any(_is_table_path(a)
                   or (isinstance(a, ast.Name) and a.id in bound)
                   for a in args):
                yield call.lineno


def test_lake_tables_are_read_through_the_catalog():
    files = sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True))
    assert files
    bad = []
    for path in files:
        if os.path.relpath(path, PKG) == "catalog.py":
            continue
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        bad += [f"{os.path.relpath(path, REPO)}:{line}"
                for line in sorted(set(_bypasses(tree)))]
    assert not bad, ("read lake tables with catalog.load_table:\n"
                     + "\n".join(bad))


def test_the_check_sees_direct_and_bound_reads():
    src = ("def f(spark, sf):\n"
           "    p = table_path(sf, 'orders')\n"
           "    a = spark.read.parquet(table_path(sf, 'customer'))\n"
           "    b = spark.read.format('parquet').load(p)\n"
           "    c = spark.read.parquet(other)\n")
    assert sorted(_bypasses(ast.parse(src))) == [3, 4]
