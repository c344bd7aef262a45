"""The package reads no tuning knobs from the environment: the only
variables it consults pick where Spark runs (``SPARK_MASTER``) and how
many local cores it takes (``SPARK_GRAFT_CPUS``). Nor does any query
override a session conf of its own: named conf keys are written only by
the session setup and the table loader. Spark-free: the checks parse the
sources."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "compass_query_optimizer_spark"


def _is_os_attr(node: ast.AST, name: str) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == name
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _key(node: ast.AST) -> str:
    # a computed key could hide any variable, so it never matches
    return node.value if isinstance(node, ast.Constant) else "<computed>"


def env_keys(tree: ast.AST) -> set[str]:
    """Keys read through ``os.environ[k]``, ``os.environ.get(k)``,
    ``os.getenv(k)`` and ``k in os.environ``."""
    keys = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_os_attr(node.value, "environ"):
            keys.add(_key(node.slice))
        elif isinstance(node, ast.Call) and node.args and (
            _is_os_attr(node.func, "getenv")
            or (
                isinstance(node.func, ast.Attribute)
                and node.func.attr == "get"
                and _is_os_attr(node.func.value, "environ")
            )
        ):
            keys.add(_key(node.args[0]))
        elif isinstance(node, ast.Compare) and any(
            isinstance(op, (ast.In, ast.NotIn)) for op in node.ops
        ) and any(_is_os_attr(c, "environ") for c in node.comparators):
            keys.add(_key(node.left))
    return keys


def test_package_reads_only_the_session_placement_variables():
    # the scanner sees every read form, so a new knob cannot slip past it
    src = (
        "import os\n"
        "a = os.environ['A']\n"
        "b = os.environ.get('B', '1')\n"
        "c = os.getenv('C')\n"
        "d = 'D' not in os.environ\n"
        "e = os.environ[name]\n"
    )
    assert env_keys(ast.parse(src)) == {"A", "B", "C", "D", "<computed>"}

    keys = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        keys |= env_keys(ast.parse(path.read_text(), filename=str(path)))
    assert keys == {"SPARK_GRAFT_CPUS", "SPARK_MASTER"}


def conf_set_keys(tree: ast.AST) -> set[str]:
    """Keys written through ``<x>.conf.set(k, v)`` or ``conf.set(k, v)``."""
    keys = set()
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and node.args
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "set"
        ):
            continue
        target = node.func.value
        if (isinstance(target, ast.Attribute) and target.attr == "conf") or (
            isinstance(target, ast.Name) and target.id == "conf"
        ):
            keys.add(_key(node.args[0]))
    return keys


def test_only_the_session_and_loader_set_named_confs():
    # session and Hadoop conf writes both count; other .set calls do not
    src = (
        "spark.conf.set('spark.sql.shuffle.partitions', '32')\n"
        "spark.conf.set(k, v)\n"
        "conf.set(prefix + 'endpoint', v)\n"
        "params.set('x', 1)\n"
    )
    assert conf_set_keys(ast.parse(src)) == {
        "spark.sql.shuffle.partitions",
        "<computed>",
    }

    setters = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        named = conf_set_keys(tree) - {"<computed>"}
        if named:
            setters[path.relative_to(PACKAGE).as_posix()] = named
    assert set(setters) <= {"session.py", "catalog.py"}, setters
