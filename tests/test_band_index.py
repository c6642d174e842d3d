"""Banded-LSH kernel (operators/band_index.py) against pure-Python twins on
small random frames with planted near-duplicates:

  1. bit_bands + band_pairs + popcount verify ≡ the brute-force pair set at
     Hamming ≤ threshold, for every threshold < bands (pigeonhole);
  2. dedup_against_index, without and with a verify, ≡ a Python twin of the
     verdict rule (dup_existing beats dup_batch beats new; the rep is the
     minimum id), including an empty index — a stream's first batch.
"""

from hypothesis import given, settings, strategies as st

from monocator_spark.operators.band_index import (
    BIT_KEYS,
    band_index,
    band_pairs,
    bit_bands,
    dedup_against_index,
)

_MASK64 = (1 << 64) - 1
_SETTINGS = settings(max_examples=8, deadline=None, derandomize=True, database=None)


def _signed(u: int) -> int:
    return u - (1 << 64) if u >> 63 else u


def _hamming(x: int, y: int) -> int:
    return bin((x ^ y) & _MASK64).count("1")


def _share_band(x: int, y: int, n_bands: int, bits: int) -> bool:
    mask = (1 << bits) - 1
    return any(
        (x & _MASK64) >> (k * bits) & mask == (y & _MASK64) >> (k * bits) & mask
        for k in range(n_bands)
    )


@st.composite
def _case(draw):
    """((n_bands, band_bits, threshold), signed 64-bit hashes): a few random
    bases, each with members a few flipped bits away."""
    n_bands, bits = draw(st.sampled_from([(4, 16), (8, 8), (6, 10), (3, 5)]))
    threshold = draw(st.integers(0, n_bands - 1))
    hashes = []
    for base in draw(st.lists(st.integers(0, _MASK64), min_size=1, max_size=4)):
        hashes.append(base)
        for _ in range(draw(st.integers(0, 3))):
            h = base
            for bit in draw(st.lists(st.integers(0, 63), max_size=threshold + 2)):
                h ^= 1 << bit
            hashes.append(h)
    return (n_bands, bits, threshold), [_signed(h) for h in hashes]


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, h long")


@_SETTINGS
@given(_case())
def test_band_pairs_equal_bruteforce(spark, case):
    (n_bands, bits, t), hashes = case
    bands = bit_bands(_frame(spark, list(enumerate(hashes))), "h", n_bands, bits)
    got = band_pairs(bands, BIT_KEYS, verify=f"bit_count(a.h ^ b.h) <= {t}")
    expected = {
        (i, j)
        for i in range(len(hashes))
        for j in range(i + 1, len(hashes))
        if _hamming(hashes[i], hashes[j]) <= t
    }
    assert {(r["doc_a"], r["doc_b"]) for r in got.collect()} == expected


def _verdict_twin(old, new, match):
    out = {}
    for d, h in new.items():
        ex = [o for o, g in old.items() if match(h, g)]
        lower = [m for m, g in new.items() if m < d and match(h, g)]
        if ex:
            out[d] = ("dup_existing", min(ex))
        elif lower:
            out[d] = ("dup_batch", min(lower))
        else:
            out[d] = ("new", d)
    return out


@_SETTINGS
@given(_case(), st.data())
def test_dedup_against_index_equals_verdict_twin(spark, case, data):
    (n_bands, bits, t), hashes = case
    ids = data.draw(st.permutations(range(len(hashes))))
    n_old = data.draw(st.integers(0, len(hashes) - 1))  # 0 → empty index
    old = dict(zip(ids[:n_old], hashes[:n_old]))
    new = dict(zip(ids[n_old:], hashes[n_old:]))
    old_bands = bit_bands(_frame(spark, list(old.items())), "h", n_bands, bits)
    new_bands = bit_bands(_frame(spark, list(new.items())), "h", n_bands, bits)
    # (verify, index carry, the verify's Python twin)
    for verify, carry, near in [
        (None, None, lambda x, y: True),
        (f"bit_count(a.h ^ b.h) <= {t}", ["h"], lambda x, y: _hamming(x, y) <= t),
    ]:
        index = band_index(old_bands, BIT_KEYS, carry=carry)
        got = dedup_against_index(new_bands, index, BIT_KEYS, verify=verify)
        expected = _verdict_twin(
            old, new, lambda x, y: _share_band(x, y, n_bands, bits) and near(x, y)
        )
        assert {
            r["doc_id"]: (r["verdict"], r["rep_id"]) for r in got.collect()
        } == expected, verify
