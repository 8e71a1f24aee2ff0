"""Inventory of the pandas boundaries the shipped package crosses."""

import ast
import collections
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "docling_api_spark"

#: the Spark entry points that hand a Python function pandas frames
PANDAS_CALLS = {"mapInPandas", "applyInPandas", "applyInPandasWithState",
                "pandas_udf"}

#: the grouped boundaries that stay on pandas: the two similarity folds,
#: whose fold order is the bit-identity contract, and the two streaming
#: keep-sets. Every map-side boundary runs mapInArrow.
ALLOWED = {("operators/similarity.py", "applyInPandas"): 2,
           ("streaming/", "applyInPandasWithState"): 2}


def _pandas_calls(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else \
                f.id if isinstance(f, ast.Name) else None
            if name in PANDAS_CALLS:
                yield name


def test_only_the_grouped_pandas_boundaries_remain():
    """ROADMAP direction 3: Arrow, not pandas, at every map-side Python
    boundary. A new pandas boundary must be added here on purpose."""
    found = collections.Counter()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        where = "streaming/" if rel.startswith("streaming/") else rel
        for name in _pandas_calls(ast.parse(path.read_text(), str(path))):
            found[where, name] += 1
    assert dict(found) == ALLOWED
