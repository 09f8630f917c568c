"""The vectorized (Arrow/numpy) text kernels against pure-Python
references of their semantics.

Each reference spells out the per-character arithmetic the kernel
vectorizes (Python ints never overflow, so it is exact). The sweeps run
every kernel over the real corpus and an adversarial edge set
(empty/short strings, whitespace runs, non-ASCII code points, NULs,
3k-char docs, NULL). Tokens always come from Spark's ``tt.tokens``, so
the whitespace split under test is Spark's. NULL and empty inputs are
asserted explicitly: shingles of NULL are ``[NULL]``, token hashes and
fingerprints of NULL are NULL, and SimHash of NULL or of no tokens is 0.

The shingle kernel reduces its weights mod P, so it returns the exact
mod-P residue even where an un-reduced 64-bit fold would overflow (e.g.
12-char shingles of wide CJK code points —
``test_shingle12_non_ascii_exact_mod_p``).
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


def _shingles_ref(text: str | None, n: int) -> list[int | None]:
    """Arbitrary-precision reference: exact ``Σ cp·31^e mod P`` per
    window (Python ints never overflow), zero-padded like the kernel,
    distinct in first-occurrence order. NULL text has one window whose
    hash is NULL."""
    if text is None:
        return [None]
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


def _token_hashes_ref(toks: list[str] | None) -> list[int] | None:
    """Per token, the fold ``acc·31 + code point mod P``."""
    if toks is None:
        return None
    out = []
    for tok in toks:
        h = 0
        for ch in tok:
            h = (h * 31 + ord(ch)) % tt.HASH_P
        out.append(h)
    return out


def _simhash_ref(hashes: list[int] | None) -> int:
    """Bit i is set iff strictly more than half the tokens' ``g(h) =
    (a·h + b) mod 2^32`` have bit i set; no tokens give 0."""
    if not hashes:
        return 0
    g = [(h * tt.SIMHASH_A + tt.SIMHASH_B) % (1 << 32) for h in hashes]
    return sum(1 << i for i in range(tt.SIMHASH_BITS)
               if 2 * sum((x >> i) & 1 for x in g) > len(g))


def _fingerprint_ref(text: str | None) -> int | None:
    """``Σ cp_i · (i mod 97 + 1) mod 2^31`` over 0-based positions."""
    if text is None:
        return None
    return sum(ord(ch) * (i % 97 + 1) for i, ch in enumerate(text)) % (1 << 31)


def _lane_ref(text: str | None, lane: int) -> int | None:
    """``Σ cp_i · ((i·a + c) mod p) mod p`` over 1-based positions, with
    ``(a, c, p) = FP_LANES[lane]``."""
    if text is None:
        return None
    a, c, p = tt.FP_LANES[lane]
    return sum(ord(ch) * ((i * a + c) % p)
               for i, ch in enumerate(text, 1)) % p


def _kernels():
    """``{name: (column over text, reference over (text, tokens))}``."""
    text = F.col("text")
    toks = tt.tokens(text)
    return {
        "shingle3": (tt.shingle_hashes(text, 3),
                     lambda t, _: _shingles_ref(t, 3)),
        "shingle5": (tt.shingle_hashes(text, 5),
                     lambda t, _: _shingles_ref(t, 5)),
        "token_hashes": (tt.token_hashes(toks),
                         lambda _, k: _token_hashes_ref(k)),
        "simhash": (tt.simhash(tt.token_hashes(toks)),
                    lambda _, k: _simhash_ref(_token_hashes_ref(k))),
        "fingerprint": (tt.fingerprint(text),
                        lambda t, _: _fingerprint_ref(t)),
        "fp_lane0": (tt.fingerprint_lane(text, 0),
                     lambda t, _: _lane_ref(t, 0)),
        "fp_lane1": (tt.fingerprint_lane(text, 1),
                     lambda t, _: _lane_ref(t, 1)),
    }


KERNELS = ["shingle3", "shingle5", "token_hashes", "simhash",
           "fingerprint", "fp_lane0", "fp_lane1"]

#: each kernel's output on NULL text and on the empty string
NULL_AND_EMPTY = {
    "shingle3": ([None], [0]),
    "shingle5": ([None], [0]),
    "token_hashes": (None, []),
    "simhash": (0, 0),
    "fingerprint": (None, 0),
    "fp_lane0": (None, 0),
    "fp_lane1": (None, 0),
}


def _mismatches(df, kernel: str) -> list:
    """``(text, kernel value, reference value)`` for every row of ``df``
    where the kernel disagrees with its reference."""
    col, ref = _kernels()[kernel]
    rows = df.select("text", tt.tokens(F.col("text")).alias("toks"),
                     col.alias("got")).collect()
    assert rows
    return [(r["text"], r["got"], want) for r in rows
            if r["got"] != (want := ref(r["text"], r["toks"]))]


@pytest.mark.parametrize("kernel", KERNELS)
def test_vectorized_kernel_matches_expression_on_edges(spark, kernel):
    df = _edge_df(spark)
    assert _mismatches(df, kernel) == []
    col, _ = _kernels()[kernel]
    got = {r["text"]: r["got"] for r in df.where(
        F.col("text").isNull() | (F.col("text") == ""))
        .select("text", col.alias("got")).collect()}
    assert (got[None], got[""]) == NULL_AND_EMPTY[kernel]


def test_vectorized_kernels_match_expressions_on_corpus(spark):
    d = load_for_compute(spark, SF_SMALL, "documents", "doc_id")
    for kernel in KERNELS:
        assert _mismatches(d, kernel) == [], kernel


def test_shingle12_matches_on_ascii(spark):
    """n=12 on ASCII rows, including the short-text padded-window path
    and NULL."""
    rows = [(i, t) for i, t in enumerate(
        ["", "a", "short", "abcdefghijklmnop", "word " * 200, None])]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r["a"] for r in df.select(
        "doc_id", tt.shingle_hashes(F.col("text"), 12).alias("a")).collect()}
    for i, t in rows:
        assert got[i] == _shingles_ref(t, 12), f"row {i}"
    assert got[5] == [None]


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
