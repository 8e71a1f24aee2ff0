"""Inventory of the pandas boundaries the shipped package crosses."""

import ast
import collections
import pathlib

from docling_api_spark.functions import sniffer

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


CONVERT = PACKAGE / "operators" / "convert.py"
#: the sniffer's format constants, by name and by value
FORMATS = {name: getattr(sniffer, name) for name in
           ("DOCX", "PPTX", "HTML", "IMAGE", "PDF", "ASCIIDOC", "MD")}


def _format_tags(node: ast.AST):
    """The format literals or sniffer constants inside ``node``."""
    for sub in ast.walk(node):
        if (isinstance(sub, ast.Constant) and sub.value in FORMATS.values()
                or isinstance(sub, ast.Name) and sub.id in FORMATS):
            yield ast.unparse(sub)


def test_convert_has_no_per_format_branch():
    """ROADMAP direction 1: format dispatch and failure codes live in the
    one ``CONVERTERS`` table. ``convert.py`` compares nothing with a
    format, and ``convert_one`` has one ``try``, whose ``except`` reads
    the format's error map."""
    tree = ast.parse(CONVERT.read_text(), str(CONVERT))
    compared = [tag for node in ast.walk(tree)
                if isinstance(node, (ast.Compare, ast.MatchValue))
                for tag in _format_tags(node)]
    assert compared == []
    convert_one, = (node for node in tree.body
                    if isinstance(node, ast.FunctionDef)
                    and node.name == "convert_one")
    assert sum(isinstance(node, (ast.Try, ast.TryStar))
               for node in ast.walk(convert_one)) == 1
