"""Canonicalizer edge cases (SURVEY.md §2 O2) + datagen variant round-trip."""

import pandas as pd
import pytest

from monocator_spark.datagen.corpus import apply_variant
from monocator_spark.functions.urlnorm import (
    canonicalize_series, canonicalize_url, host_of,
)

CASES = [
    ("http://Example.COM/a", "http://example.com/a"),
    ("HTTP://example.com/a", "http://example.com/a"),
    ("http://example.com:80/a", "http://example.com/a"),
    ("https://example.com:443/a", "https://example.com/a"),
    ("http://example.com:8080/a", "http://example.com:8080/a"),
    ("http://example.com/a#frag", "http://example.com/a"),
    ("http://example.com/a/./b", "http://example.com/a/b"),
    ("http://example.com/a/x/../b", "http://example.com/a/b"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com/%41%2Fb", "http://example.com/A%2Fb"),
    ("http://example.com/%3f", "http://example.com/%3F"),
    ("http://example.com/a?q=1#f", "http://example.com/a?q=1"),
    ("  http://example.com/a ", "http://example.com/a"),
]


@pytest.mark.parametrize("raw,expected", CASES)
def test_canonicalize(raw, expected):
    assert canonicalize_url(raw) == expected


@pytest.mark.parametrize("bad", ["", "not-a-url", "http://", "//host/x", None])
def test_unparseable(bad):
    assert canonicalize_url(bad) is None


def test_variants_roundtrip():
    base = "http://h3.example/img0000000042"
    for v in range(8):
        assert canonicalize_url(apply_variant(base, v)) == base


def test_host_of():
    assert host_of("http://h3.example/img1") == "h3.example"
    assert host_of("http://h3.example:8080/x") == "h3.example:8080"


def test_series_matches_scalar():
    raws = [c[0] for c in CASES] + ["junk"]
    out = canonicalize_series(pd.Series(raws)).tolist()
    assert out == [canonicalize_url(r) for r in raws]


# --- fast path ≡ full canonicalizer (enqueue.prepare_candidates) ------------

_ADVERSARIAL = [
    "http://h0.example/img0000000001",
    "http://H0.EXAMPLE/img0000000001",
    "http://h0.example:80/img0000000001#frag",
    "http://h0.example/./img0000000001",
    "https://h1.example:443/a/b/c",
    "https://h1.example:443/a/b/c/",
    "http://h1.example:8080/a",
    "http://h1.example",
    "http://h1.example/",
    "http://h1.example//a",
    "http://h1.example/.",
    "http://h1.example/..",
    "http://h1.example/a/../b",
    "http://h1.example/%41",
    "http://h1.example/a?q=1",
    "http://h1.example/a#b#c",
    "http://h1.example/a://weird",
    "http://h1.example/UPPER",
    "http://h1.example/a_b~c-d.e",
    "  http://h1.example/pad  ",
    "ftp://h1.example/a",
    "not-a-url",
    "http://",
    "http:///nohost",
    "http://h1.example:80:80/a",
    "http://h-1.example./seg./..dots",
]


def test_fast_path_equivalence(spark):
    """prepare_candidates (one mapInPandas pass: the already-canonical regex
    gate, the full canonicalizer for every other URL, and the drop of
    unparseable ones) must equal the pure-Python canonicalizer on every
    URL — including shapes the fast path must REJECT to stay correct."""
    from pyspark.sql import functions as F

    from monocator_spark.datagen.corpus import apply_variant, url_of_image
    from monocator_spark.operators.enqueue import prepare_candidates

    urls = list(_ADVERSARIAL)
    for i in range(80):
        urls.append(apply_variant(url_of_image(i, 7), i))
    df = spark.createDataFrame([(u, 0) for u in urls], "url string, depth int")
    # prepare_candidates drops the raw url column; compare against the
    # multiset of expected outputs instead
    got_rows = sorted(
        (r.url_norm, r.host)
        for r in prepare_candidates(df).select("url_norm", "host").collect()
    )
    exp_rows = sorted(
        (n, host_of(n))
        for n in (canonicalize_url(u) for u in urls)
        if n is not None
    )
    assert got_rows == exp_rows


def test_fast_path_gate():
    """The already-canonical gate must accept exactly the canonical datagen
    variant (v=0) and reject every non-canonical rewrite — an over-eager
    gate would skip normalization work that is NOT an identity."""
    from monocator_spark.datagen.corpus import apply_variant, url_of_image
    from monocator_spark.functions.urlnorm import _canonical_fullmatch

    for i in range(40):
        for v in range(4):
            u = apply_variant(url_of_image(i, 7), v)
            assert bool(_canonical_fullmatch(u)) == (v == 0), u
    # gate must also reject shapes whose canonical form differs from input
    for u in _ADVERSARIAL:
        if _canonical_fullmatch(u):
            assert canonicalize_url(u) == u, u


# --- property-based: idempotence + gate soundness (hypothesis) ---------------

try:
    from hypothesis import given, settings, strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False

if _HAVE_HYP:
    # URL-ish soup biased toward the characters canonicalization cares
    # about (scheme separators, ports, dots, escapes, fragments)
    _soup = st.text(
        alphabet="abcXYZ012%:/.#?~_-& ",
        min_size=0,
        max_size=40,
    )
    _urlish = st.one_of(
        _soup,
        st.builds(lambda h, p: f"http://{h}/{p}", _soup, _soup),
        st.builds(lambda h, p: f"HTTPS://{h}:443/{p}#f", _soup, _soup),
    )

    @settings(max_examples=500, deadline=None)
    @given(_urlish)
    def test_canonicalize_idempotent(u):
        """canonicalize ∘ canonicalize ≡ canonicalize: the output of the
        canonicalizer must itself be a fixed point (otherwise the URL-seen
        set would depend on how many times a URL was re-enqueued)."""
        once = canonicalize_url(u)
        if once is not None:
            assert canonicalize_url(once) == once

    @settings(max_examples=500, deadline=None)
    @given(_urlish)
    def test_fast_gate_sound(u):
        """If the already-canonical gate accepts a string, canonicalization
        must be an identity on it — the gate may only skip no-op work."""
        from monocator_spark.functions.urlnorm import _canonical_fullmatch

        if _canonical_fullmatch(u):
            assert canonicalize_url(u) == u
