"""Round-13 optimization net: the vectorized (Arrow/numpy) text kernels
must stay bit-identical to the Catalyst-expression forms they replaced.

The expression forms (``*_expr``) are kept in ``texttools`` exactly as the
semantics reference; these tests sweep them against the vectorized twins
over the real corpus and an adversarial edge set (empty/short strings,
whitespace runs, non-ASCII code points, NULs, 3k-char docs, NULL).

One deliberate divergence, pinned here: on inputs where the expression
form RAISES (ANSI long overflow — e.g. 12-char shingles of wide CJK code
points), the vectorized form returns the true mod-P residue instead of
raising (its weights are pre-reduced mod P, so the dot never overflows —
round-13 ADVICE fix; ``test_shingle12_non_ascii_exact_mod_p`` pins the
values against an arbitrary-precision reference). All real corpus rows
are well inside int64 either way, so behavior there is identical.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from active_query_optimizer_spark.catalog import load_for_compute
from active_query_optimizer_spark.functions import texttools as tt

from .conftest import SF_SMALL

EDGE_TEXTS = [
    "", "a", "ab", "abcd", " ", "  x  y ", "abcdefghijklmnop",
    "héllo wörld", "漢字テスト文字列です", "🎉🎊 🎈emoji toks", "a" * 3000,
    "\x00\x01 tok", "mixed 漢字 and ascii", None, "word " * 500,
]


def _edge_df(spark):
    rows = [(i, t) for i, t in enumerate(EDGE_TEXTS)]
    return spark.createDataFrame(rows, "doc_id int, text string")


def _pairs():
    toks = tt.tokens(F.col("text"))
    return {
        "shingle3": (tt.shingle_hashes(F.col("text"), 3),
                     tt.shingle_hashes_expr(F.col("text"), 3)),
        "shingle5": (tt.shingle_hashes(F.col("text"), 5),
                     tt.shingle_hashes_expr(F.col("text"), 5)),
        "token_hashes": (tt.token_hashes(toks), tt.token_hashes_expr(toks)),
        "simhash": (tt.simhash(tt.token_hashes(toks)),
                    tt.simhash_expr(tt.token_hashes_expr(toks))),
        "fingerprint": (tt.fingerprint(F.col("text")),
                        tt.fingerprint_expr(F.col("text"))),
        "fp_lane0": (tt.fingerprint_lane(F.col("text"), 0),
                     tt.fingerprint_lane_expr(F.col("text"), 0)),
        "fp_lane1": (tt.fingerprint_lane(F.col("text"), 1),
                     tt.fingerprint_lane_expr(F.col("text"), 1)),
    }


KERNELS = ["shingle3", "shingle5", "token_hashes", "simhash",
           "fingerprint", "fp_lane0", "fp_lane1"]


@pytest.mark.parametrize("kernel", KERNELS)
def test_vectorized_kernel_matches_expression_on_edges(spark, kernel):
    a, b = _pairs()[kernel]
    bad = (_edge_df(spark).select(a.alias("a"), b.alias("b"))
           .filter("a IS DISTINCT FROM b").count())
    assert bad == 0


def test_vectorized_kernels_match_expressions_on_corpus(spark):
    d = load_for_compute(spark, SF_SMALL, "documents", "doc_id")
    for kernel, (a, b) in _pairs().items():
        bad = (d.select(a.alias("a"), b.alias("b"))
               .filter("a IS DISTINCT FROM b").count())
        assert bad == 0, kernel


def test_shingle12_matches_on_ascii(spark):
    """n=12 separately on ASCII-only rows: the expression form raises
    ANSI overflow on wide code points at this width (where the
    vectorized form wraps) — on ASCII both are defined and must agree,
    including the short-text padded-window path."""
    rows = [(i, t) for i, t in enumerate(
        ["", "a", "short", "abcdefghijklmnop", "word " * 200, None])]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    bad = (df.select(tt.shingle_hashes(F.col("text"), 12).alias("a"),
                     tt.shingle_hashes_expr(F.col("text"), 12).alias("b"))
           .filter("a IS DISTINCT FROM b").count())
    assert bad == 0


def _shingles_ref(text: str, n: int) -> list[int]:
    """Arbitrary-precision reference: exact ``Σ cp·31^e mod P`` per
    window (Python ints never overflow), zero-padded like the kernel,
    distinct in first-occurrence order."""
    cp = [ord(ch) for ch in text]
    hi = max(len(cp) - (n - 1), 1)
    cp = cp + [0] * (hi + n - 1 - len(cp))
    out: list[int] = []
    seen: set[int] = set()
    for i in range(hi):
        h = 0
        for j in range(n):
            h = h * 31 + cp[i + j]
        r = h % tt.HASH_P
        if r not in seen:
            seen.add(r)
            out.append(r)
    return out


def test_shingle12_non_ascii_exact_mod_p(spark):
    """Round-13 ADVICE item: n=12 over wide (non-ASCII) code points used
    to overflow int64 inside the kernel and silently wrap. The weights
    are now pre-reduced mod P, so the kernel must return the EXACT mod-P
    residues (matching an arbitrary-precision reference) — the same
    values an engine computing in unbounded precision (DuckDB with a
    wider type, or the expression form if ANSI overflow were lifted)
    would produce."""
    texts = ["漢字テスト文字列です、これは長いテキストです",
             "🎉🎊🎈🎁🎀🎂🎄🎆🎇🧨✨🎃🎗🎟🎫",
             "mixed 漢字 and ascii interleaved 文字 here",
             "\U0010FFFF" * 20,  # max code point, every term maximal
             "é" * 12, "é" * 11, ""]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: list(r["a"]) for r in
           df.select("doc_id",
                     tt.shingle_hashes(F.col("text"), 12).alias("a"))
           .collect()}
    for i, t in enumerate(texts):
        assert got[i] == _shingles_ref(t, 12), f"row {i}"


def test_shingle_width_bound_is_enforced(spark):
    """``shingle_hashes`` is exact only while the n-term int64 dot cannot
    overflow (``n <= SHINGLE_MAX_N``): at the bound it still matches the
    arbitrary-precision reference on near-maximal code points, and one
    past it is rejected."""
    n = tt.SHINGLE_MAX_N
    text = "".join(chr(0x10FFFF - (i * 7919) % 4096) for i in range(n + 40))
    df = spark.createDataFrame([(text,)], "text string")
    [row] = df.select(tt.shingle_hashes(F.col("text"), n).alias("a")).collect()
    assert list(row["a"]) == _shingles_ref(text, n)
    with pytest.raises(ValueError, match="exceeds"):
        tt.shingle_hashes(F.col("text"), n + 1)
