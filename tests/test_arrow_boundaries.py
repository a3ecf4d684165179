"""Every Python boundary of the package hands Arrow to Arrow: batch
kernels are ``mapInArrow`` and scalar kernels ``F.arrow_udf``. No module
imports pandas or builds a pandas boundary, so no pandas conversion sits
between Spark and a kernel."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "document_extractor_spark"

#: the pandas boundary builders (``df.mapInPandas``, ``F.pandas_udf``,
#: ``groupBy(...).applyInPandas`` ...)
_BANNED_CALLS = {"mapInPandas", "pandas_udf", "applyInPandas",
                 "applyInPandasWithState"}


def _pandas_uses(path):
    tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and not node.level:
            mods = [node.module or ""]
        else:
            mods = []
        found += [f"{path.name}:{node.lineno} import {m}" for m in mods
                  if m.split(".")[0] == "pandas"]
        name = (node.attr if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name) else None)
        if name in _BANNED_CALLS:
            found.append(f"{path.name}:{node.lineno} {name}")
    return found


def test_no_pandas_boundary_in_the_package():
    found = [f"{path.parent.name}/{hit}"
             for path in sorted(PKG.rglob("*.py"))
             for hit in _pandas_uses(path)]
    assert not found, "use mapInArrow / F.arrow_udf: " + ", ".join(found)


def test_lint_sees_every_spelling(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("import pandas as pd\n"
                   "from pandas import Series\n"
                   "df.mapInPandas(f, s)\n"
                   "@F.pandas_udf('long')\n"
                   "def g(x): return x\n"
                   "from pyspark.sql.pandas.types import to_arrow_schema\n"
                   "df.mapInArrow(f, s)\n")
    assert _pandas_uses(src) == [
        "m.py:1 import pandas", "m.py:2 import pandas",
        "m.py:3 mapInPandas", "m.py:4 pandas_udf"]
