"""Property-based tests (hypothesis) for the scalar kernels: the
driver-side Python twins are exercised across the FULL u64 range, and
one generated batch pins the Column implementations to the twins."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hypothesis import given, settings
from hypothesis import strategies as st

from binaryx_graph_spark.functions.addr import normalize_address_py, parse_address_py

U64_MAX = (1 << 64) - 1


@given(st.integers(min_value=0, max_value=U64_MAX))
def test_parse_format_round_trip_full_u64(v):
    """parse(format(v)) == v over the whole unsigned-64 range — the
    reference parses with Rust u64::from_str_radix (ADVICE r1: >= 2^63
    must survive)."""
    assert parse_address_py(f"0x{v:x}") == v
    assert parse_address_py(str(v)) == v
    assert normalize_address_py(f"0x{v:X}") == f"0x{v:x}"


@given(st.integers(min_value=U64_MAX + 1, max_value=1 << 80))
def test_parse_overflow_yields_none_or_hex_fallback(v):
    """Decimal strings above u64::MAX are not silently truncated: they
    either fall through to a valid bare-hex parse (reference order) or
    yield None."""
    got = parse_address_py(str(v))
    s = str(v)
    if got is not None:
        # fallback happened: the digits parsed as hex must fit u64
        assert int(s, 16) == got and got <= U64_MAX


@given(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=24
    )
)
@settings(max_examples=300)
def test_parse_never_raises(s):
    """Arbitrary junk never raises — it parses or returns None, exactly
    like the tolerant reference parser."""
    got = parse_address_py(s)
    assert got is None or 0 <= got <= U64_MAX


def _morton_py(x: int, y: int, bits: int = 8) -> int:
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b)
        z |= ((y >> b) & 1) << (2 * b + 1)
    return z


def test_morton2_column_matches_python_reference(spark):
    """morton2 (Column) == the bit-twiddling Python reference on a
    generated grid, and z-values are unique per (x, y) (the interleave
    is injective on the masked range)."""
    from binaryx_graph_spark.functions.zorder import morton2

    from pyspark.sql import functions as F

    rows = [(x, y) for x in range(0, 256, 17) for y in range(0, 256, 13)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", morton2(F.col("x"), F.col("y")).alias("z")).collect()
    }
    assert got == {(x, y): _morton_py(x, y) for x, y in rows}
    assert len(set(got.values())) == len(rows)


def test_tokens_sql_string_matches_column_builder(spark):
    """tokens('text') (one parsed SQL string) == tokens(F.col('text'))
    (the Column builder) on an adversarial corpus: tabs, newlines, runs
    of spaces, leading/trailing whitespace, NBSP, mixed-case non-ASCII,
    the empty string and NULL."""
    from pyspark.sql import functions as F

    from binaryx_graph_spark.operators.textstats import tokens

    corpus = [
        "plain words here",
        "tab\tseparated\t\twords",
        "new\nline\r\nand\n\ncarriage",
        "runs   of     spaces",
        "   leading and trailing   ",
        "\t\n mixed \x0b\f whitespace \n\t",
        "nbsp\u00a0glued\u00a0 words",
        "MiXeD CaSe ÄÖÜ straße İstanbul ΣΊΣΥΦΟΣ",
        "",
        " ",
        None,
    ]
    df = spark.createDataFrame(list(enumerate(corpus)), "i int, text string")
    rows = df.select(
        "i", tokens("text").alias("sql"), tokens(F.col("text")).alias("col")
    ).collect()
    assert len(rows) == len(corpus)
    for r in rows:
        assert r["sql"] == r["col"], corpus[r["i"]]
    got = {r["i"]: r["sql"] for r in rows}
    assert got[1] == ["tab", "separated", "words"]
    assert got[4] == ["leading", "and", "trailing"]
    assert got[6] == ["nbsp\u00a0glued\u00a0", "words"]  # NBSP is not \s
    assert got[8] == [] and got[9] == [] and got[10] is None
