"""The seeded md5 draw lives in one module: ``functions/text.py``
(``md5_of`` builds the hash, ``hex_int`` turns hex digits into an
integer). Every other module goes through them, so a change to the
hash touches one place on the Spark side."""

import ast
import hashlib
import pathlib

import pytest
from pyspark.sql import functions as F

from document_extractor_spark.functions.text import hex_int, md5_of

PKG = pathlib.Path(__file__).resolve().parents[1] / "document_extractor_spark"
HOME = PKG / "functions" / "text.py"

#: (outer call, inner call) pairs that spell the draw out by hand
_BANNED = {("conv", "substring"), ("md5", "concat")}


def _name(node):
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _hand_written_draws(path):
    tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
    return [
        f"{path.name}:{node.lineno} {_name(node)}({_name(node.args[0])}(...))"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and node.args
        and isinstance(node.args[0], ast.Call)
        and (_name(node), _name(node.args[0])) in _BANNED
    ]


def test_seeded_draws_only_in_functions_text():
    found = [f"{path.parent.name}/{hit}"
             for path in sorted(PKG.rglob("*.py")) if path != HOME
             for hit in _hand_written_draws(path)]
    assert not found, (
        "use functions.text.md5_of / hex_int instead of: " + ", ".join(found))


def test_lint_sees_both_spellings(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("F.conv(F.substring(h, 1, 8), 16, 10)\n"
                   "md5(concat(lit('s'), c))\nF.md5(F.col('x'))\n")
    assert _hand_written_draws(src) == [
        "m.py:1 conv(substring(...))", "m.py:2 md5(concat(...))"]


def test_md5_of_and_hex_int_values(spark):
    df = spark.createDataFrame([(7, "ab"), (None, "ab")], "k int, s string")
    rows = df.select(
        md5_of("seed:", F.col("k"), F.col("s")).alias("h"),
        md5_of(F.col("s")).alias("one"),
        hex_int(md5_of("seed:", F.col("k")), 15).alias("v"),
        hex_int(F.lit("00ff10"), 2, start=5, cast="int").alias("mid"),
    ).collect()
    seeded = hashlib.md5(b"seed:7ab").hexdigest()
    assert rows[0]["h"] == seeded
    assert rows[0]["one"] == hashlib.md5(b"ab").hexdigest()
    assert rows[0]["v"] == int(hashlib.md5(b"seed:7").hexdigest()[:15], 16)
    assert rows[0]["mid"] == 16
    # a NULL part gives NULL, as concat does
    assert (rows[1]["h"], rows[1]["v"]) == (None, None)
    assert rows[1]["one"] == rows[0]["one"]


@pytest.mark.parametrize("n_hex", [0, 16, -1])
def test_hex_int_rejects_widths_past_60_bits(n_hex):
    with pytest.raises(ValueError, match="n_hex"):
        hex_int(F.col("h"), n_hex)
