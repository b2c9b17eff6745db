"""The package reads no tuning knobs from the environment: behaviour is set
by arguments and Spark confs.  The only environment reads are the two
deployment settings of :func:`markmuse_spark.session.get_spark`."""

from __future__ import annotations

import ast
from pathlib import Path

import markmuse_spark

PACKAGE = Path(markmuse_spark.__file__).parent

ALLOWED = {
    ("session.py", "SPARK_GRAFT_CPUS"),
    ("session.py", "SPARK_DRIVER_MEM"),
}


def _env_reads(tree):
    """``(lineno, key)`` for every ``os.environ`` / ``os.getenv`` use in
    ``tree``, under any alias of ``os`` or of the imported names.  ``key``
    is the literal variable name when the use is ``environ.get("K", ...)``,
    ``environ["K"]`` or ``getenv("K", ...)``, else ``None``."""
    os_names, direct = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            os_names |= {a.asname or a.name for a in node.names if a.name == "os"}
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            direct |= {
                a.asname or a.name for a in node.names
                if a.name in ("environ", "getenv")
            }
    parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}

    def literal(node):
        ok = isinstance(node, ast.Constant) and isinstance(node.value, str)
        return node.value if ok else None

    for node in ast.walk(tree):
        is_os_attr = (
            isinstance(node, ast.Attribute)
            and node.attr in ("environ", "getenv")
            and isinstance(node.value, ast.Name)
            and node.value.id in os_names
        )
        if not (is_os_attr or (isinstance(node, ast.Name) and node.id in direct)):
            continue
        up, key = parent.get(node), None
        if isinstance(up, ast.Call) and up.func is node and up.args:
            key = literal(up.args[0])  # getenv("K")
        elif isinstance(up, ast.Subscript) and up.value is node:
            key = literal(up.slice)  # environ["K"]
        elif isinstance(up, ast.Attribute) and up.attr == "get":
            call = parent.get(up)
            if isinstance(call, ast.Call) and call.func is up and call.args:
                key = literal(call.args[0])  # environ.get("K")
        yield node.lineno, key


def test_no_env_knobs_outside_session_settings():
    # the scanner sees every form of read, under any alias
    src = (
        "import os\nimport os as _o\nfrom os import environ as E, getenv\n"
        "a = os.environ.get('A')\nb = _o.environ['B']\nc = getenv('C', 1)\n"
        "d = E.get(name)\ne = dict(os.environ)\n"
    )
    assert sorted(_env_reads(ast.parse(src))) == [
        (4, "A"), (5, "B"), (6, "C"), (7, None), (8, None),
    ]
    found = [
        (str(path.relative_to(PACKAGE)), lineno, key)
        for path in sorted(PACKAGE.rglob("*.py"))
        for lineno, key in _env_reads(ast.parse(path.read_text(), str(path)))
    ]
    extra = [f for f in found if (f[0], f[2]) not in ALLOWED]
    assert not extra, f"environment reads outside the allowed settings: {extra}"
    assert {(f[0], f[2]) for f in found} == ALLOWED
