"""Inventory of the environment variables the shipped package reads."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "docling_api_spark"

#: a deployment path, and the KDF memo switch that the frozen bench.py
#: sets for its scaling run
KNOBS = {"SWEEP_SF_DIR", "SPARK_GRAFT_KDF_MEMO"}


def _is_environ(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ"
            and isinstance(node.value, ast.Name) and node.value.id == "os")


def _env_reads(tree: ast.AST):
    """(key node, environ node or None) for each ``os.environ.get``,
    ``os.environ[...]``, ``... in os.environ`` and ``os.getenv`` in
    ``tree``; any other use of ``os.environ`` yields (None, node)."""
    seen = set()
    for node in ast.walk(tree):
        env = key = None
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if f.attr == "get" and _is_environ(f.value):
                env, key = f.value, node.args[0]
            elif (f.attr == "getenv" and isinstance(f.value, ast.Name)
                  and f.value.id == "os"):
                key = node.args[0]
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            env, key = node.value, node.slice
        elif (isinstance(node, ast.Compare) and len(node.ops) == 1
              and isinstance(node.ops[0], (ast.In, ast.NotIn))
              and _is_environ(node.comparators[0])):
            env, key = node.comparators[0], node.left
        if key is not None:
            seen.add(id(env))
            yield key, env
    for node in ast.walk(tree):
        if _is_environ(node) and id(node) not in seen:
            yield None, node


def test_package_reads_only_the_known_environment_variables():
    """ROADMAP aim 2: no config knob that nothing needs. Every variable
    the package reads is named by a string literal and listed in
    KNOBS; a new one must be added here on purpose."""
    read = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        for key, env in _env_reads(ast.parse(path.read_text(), str(path))):
            where = f"{path.relative_to(PACKAGE.parent)}:" \
                f"{(env if key is None else key).lineno}"
            assert isinstance(key, ast.Constant) \
                and isinstance(key.value, str), \
                f"{where}: environment read without a literal name"
            read.add(key.value)
    assert read == KNOBS
