"""Every frame-level Python pass in the package is a ``mapInArrow``.

The one scalar UDF left is :func:`markmuse_spark.functions.render_template`,
a public ``Column`` function (``mapInArrow`` returns a DataFrame).  A scalar
UDF pays the Arrow->pandas conversion, needs its ``__annotations__``
rewritten, and is evaluated twice when Spark pushes a filter on its output
below its projection; a ``mapInArrow`` node is opaque to the optimizer
(pinned by ``test_dedup_similarity.py::
test_filter_on_pass_output_runs_each_pass_once``)."""

from __future__ import annotations

import ast
from pathlib import Path

import markmuse_spark

PACKAGE = Path(markmuse_spark.__file__).parent

ALLOWED = {
    ("functions/__init__.py", "render_template", "pandas_udf"),
    ("functions/__init__.py", "render_template", "__annotations__"),
}


def _udf_forms(tree):
    """``(lineno, owner, form)`` for every ``pandas_udf`` reference in
    ``tree`` (call, decorator, attribute or import, form ``"pandas_udf"``)
    and every assignment to an ``__annotations__`` attribute (form
    ``"__annotations__"``).  ``owner`` is the outermost ``def`` or
    ``class`` around the node, ``None`` at module level."""
    owner = {}
    for top in tree.body:
        if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            for node in ast.walk(top):
                owner[node] = top.name
    for node in ast.walk(tree):
        if (
            (isinstance(node, ast.Name) and node.id == "pandas_udf")
            or (isinstance(node, ast.Attribute) and node.attr == "pandas_udf")
            or (isinstance(node, ast.alias) and node.name == "pandas_udf")
        ):
            yield node.lineno, owner.get(node), "pandas_udf"
        elif (
            isinstance(node, ast.Attribute)
            and node.attr == "__annotations__"
            and isinstance(node.ctx, ast.Store)
        ):
            yield node.lineno, owner.get(node), "__annotations__"


def test_pandas_udf_only_in_render_template():
    # the scanner sees every form, under any alias
    src = (
        "import pyspark.sql.functions as F\n"
        "from pyspark.sql.functions import pandas_udf as pu\n"
        "def f(g):\n"
        "    g.__annotations__ = {}\n"
        "    return F.pandas_udf(g, 'long')\n"
        "class C:\n"
        "    @staticmethod\n"
        "    def m(g):\n"
        "        g.__annotations__, x = {}, 1\n"
        "@pandas_udf('long')\n"
        "def h(s): return s\n"
        "ok = f.__annotations__\n"
    )
    assert sorted(_udf_forms(ast.parse(src))) == [
        (2, None, "pandas_udf"),
        (4, "f", "__annotations__"),
        (5, "f", "pandas_udf"),
        (9, "C", "__annotations__"),
        (10, "h", "pandas_udf"),
    ]
    found = [
        (str(path.relative_to(PACKAGE)), lineno, owner, form)
        for path in sorted(PACKAGE.rglob("*.py"))
        for lineno, owner, form in _udf_forms(ast.parse(path.read_text(), str(path)))
    ]
    extra = [f for f in found if (f[0], f[2], f[3]) not in ALLOWED]
    assert not extra, f"scalar pandas UDFs outside render_template: {extra}"
    assert {(f[0], f[2], f[3]) for f in found} == ALLOWED
