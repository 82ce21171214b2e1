"""Arrow-native signature stage: kernel parity vs pure-Python oracles
and vs the reference MinHash semantics (SURVEY.md §2.2, §5.2).

The flat kernels (tokenize / token hash / shingle combine / MinHash
fold) must be bit-equal to their scalar oracles, and the Mersenne-31
fold must be bit-equal to ``%`` — that chain is what makes the arrow
impl's signatures reference-faithful: ``sig[i] = min((a_i*x + b_i) mod
c)`` (/root/reference/src/sketch/min-hash.ts:34-36,94-110) over a
deterministic shingle→int map.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bloom_filters_spark.operators.arrow_sig import (
    _ascii_lower,
    _flat_tokenize,
    _shingle_hashes,
    _signatures_from_shingles,
    _token_hashes,
    arrow_shingle_multiset_py,
    arrow_shingle_set_py,
    arrow_tokens_py,
    mod_mersenne31,
    token_hash_py,
)
from bloom_filters_spark.sketches.minhash import MinHashFactory

M31 = 2**31 - 1

TEXTS = [
    "The quick brown Fox jumps over the lazy dog",
    "  multiple   spaces\tand\nnewlines here ",
    "",
    "one",
    "two tokens",
    "exactly three tokens",
    "Ünïcode tëxt with àccents préservés dans les octets",
    "a b c d e f g h i j k l m n o p",
    "   \t\n ",
    "repeated repeated repeated repeated repeated",
    "x" * 5000 + " tail",  # token longer than MAX_TOKEN_BYTES
]


def _flat_parts(texts):
    enc = [t.encode("utf-8") for t in texts]
    data = np.frombuffer(b"".join(enc), dtype=np.uint8).copy()
    offs = np.concatenate(([0], np.cumsum([len(e) for e in enc]))).astype(
        np.int64
    )
    return _ascii_lower(data), offs


def test_mersenne_fold_equals_remainder():
    rng = np.random.default_rng(0)
    v = rng.integers(0, 2**63, size=200_000, dtype=np.int64).astype(
        np.uint64
    ) * 2 + rng.integers(0, 2, 200_000).astype(np.uint64)
    assert np.array_equal(mod_mersenne31(v), v % np.uint64(M31))
    edge = np.array(
        [0, 1, M31 - 1, M31, M31 + 1, 2**32 - 1, 2**62 - 1, 2**63, 2**64 - 1],
        dtype=np.uint64,
    )
    assert np.array_equal(mod_mersenne31(edge), edge % np.uint64(M31))


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_mersenne_fold_property(v):
    arr = np.array([v], dtype=np.uint64)
    assert int(mod_mersenne31(arr)[0]) == v % M31


def test_flat_tokenize_matches_oracle():
    d, offs = _flat_parts(TEXTS)
    ts, tl, td = _flat_tokenize(d, offs)
    for i, t in enumerate(TEXTS):
        mine = [bytes(d[s: s + n]) for s, n, doc in zip(ts, tl, td) if doc == i]
        assert mine == arrow_tokens_py(t), i


def test_token_hashes_match_oracle():
    d, offs = _flat_parts(TEXTS)
    ts, tl, _ = _flat_tokenize(d, offs)
    th = _token_hashes(d, ts, tl)
    for s, n, h in zip(ts, tl, th):
        assert token_hash_py(bytes(d[s: s + n])) == int(h)


def test_shingle_hashes_match_oracle():
    d, offs = _flat_parts(TEXTS)
    ts, tl, td = _flat_tokenize(d, offs)
    th = _token_hashes(d, ts, tl)
    sh, sh_doc, n_tok = _shingle_hashes(th, td, len(TEXTS), 3, M31)
    for i, t in enumerate(TEXTS):
        assert sorted(int(x) for x in sh[sh_doc == i]) == sorted(
            arrow_shingle_multiset_py(t, 3, M31)
        ), i
    # docs with no tokens produce no shingles and n_tok == 0
    for i, t in enumerate(TEXTS):
        assert (n_tok[i] == 0) == (len(arrow_tokens_py(t)) == 0)


@pytest.mark.parametrize("max_value", [M31, 20000])
def test_signature_kernel_matches_factory(max_value):
    """Segment-min kernel == MinHashFactory.signature (which uses plain
    ``%``) for both the Mersenne fold path and the generic path."""
    d, offs = _flat_parts(TEXTS)
    ts, tl, td = _flat_tokenize(d, offs)
    th = _token_hashes(d, ts, tl)
    sh, sh_doc, _ = _shingle_hashes(th, td, len(TEXTS), 3, max_value)
    f = MinHashFactory(32, max_value, 0x1234567890)
    buf = np.empty((4096, 32), dtype=np.uint64)
    sig = _signatures_from_shingles(sh, sh_doc, len(TEXTS), f.a, f.b, f.c, buf)
    for i, t in enumerate(TEXTS):
        seg = np.unique(sh[sh_doc == i])
        if len(seg) == 0:
            continue
        assert np.array_equal(
            sig[i].astype(np.int64), f.signature(seg.astype(np.int64))
        ), i


def test_signatures_arrow_spark(spark):
    """mapInArrow stage output == per-doc oracle on real testdata."""
    from bloom_filters_spark.operators.arrow_sig import signatures_arrow

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    f = MinHashFactory(32, M31, 0x1234567890)
    out = {
        r["doc_id"]: (r["shingles"], r["signature"])
        for r in signatures_arrow(docs, f, need_shingles=True).collect()
    }
    for i, t in texts.items():
        ss = arrow_shingle_set_py(t, 3, M31)
        if len(ss) == 0:
            assert i not in out
            continue
        got_sh, got_sig = out[i]
        assert got_sh == ss.tolist(), i
        assert got_sig == f.signature(ss.astype(np.int64)).tolist(), i


def test_bands_arrow_spark(spark):
    """Band explode: b rows per doc, equal signature slices → equal
    band_hash within a band_id, different slices → (whp) different."""
    from bloom_filters_spark.operators.arrow_sig import bands_arrow

    rows = [
        (1, list(range(8))),
        (2, list(range(8))),            # identical to doc 1
        (3, [9, 9] + list(range(2, 8))),  # differs only in band 0
    ]
    sigs = spark.createDataFrame(rows, "doc_id long, signature array<int>")
    bands = bands_arrow(sigs, bands=4, rows=2).collect()
    assert len(bands) == 12
    by_doc = {}
    for r in bands:
        by_doc.setdefault(r["doc_id"], {})[r["band_id"]] = r["band_hash"]
    assert by_doc[1] == by_doc[2]
    assert by_doc[3][0] != by_doc[1][0]
    assert all(by_doc[3][b] == by_doc[1][b] for b in (1, 2, 3))
    # band ids cover 0..b-1
    assert sorted(by_doc[1]) == [0, 1, 2, 3]


def test_fused_band_rows_match_two_stage(spark):
    """text → fused_band_rows == signatures_arrow → bands_arrow, row for
    row (the fused kernel must band the exact same signatures it would
    have emitted)."""
    from bloom_filters_spark.operators.arrow_sig import (
        bands_arrow,
        fused_band_rows,
        signatures_arrow,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    f = MinHashFactory(32, M31, 0x1234567890)
    fused = {
        (r["doc_id"], r["band_id"]): r["band_hash"]
        for r in fused_band_rows(docs, f, bands=8, rows=4).collect()
    }
    sigs = signatures_arrow(docs, f)
    staged = {
        (r["doc_id"], r["band_id"]): r["band_hash"]
        for r in bands_arrow(sigs, bands=8, rows=4).collect()
    }
    assert fused == staged
    assert len(fused) == sigs.count() * 8


def test_signatures_arrow_null_and_empty_text(spark):
    from bloom_filters_spark.operators.arrow_sig import signatures_arrow

    rows = [(1, "real text here repeated words"), (2, ""), (3, None), (4, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    f = MinHashFactory(16, M31, 7)
    out = signatures_arrow(df, f).collect()
    assert [r["doc_id"] for r in out] == [1]
    assert len(out[0]["signature"]) == 16


# ---------------------------------------------------------------------------
# partition invariance: each kernel stage runs one task per core
# ---------------------------------------------------------------------------

def _docs_at(spark, rows, n_parts):
    """The same docs at ``n_parts`` input splits, with no exchange in the
    plan (so ``rdd.getNumPartitions()`` runs no job)."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_parts),
        "doc_id long, text string",
    )


@pytest.fixture(scope="module")
def split_rows(spark):
    from bloom_filters_spark.sources.pages import pages_table

    rows = [(r["doc_id"], r["text"]) for r in
            pages_table(spark, 400, seed=3).select("doc_id", "text").collect()]
    return rows + [(10_001, ""), (10_002, None), (10_003, rows[0][1])]


def _row_multiset(df):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    )


def test_kernels_partition_invariant(spark, split_rows):
    """1, 4 and 16 input splits → identical kernel row multisets."""
    from bloom_filters_spark.operators.arrow_sig import (
        fused_band_rows,
        signatures_arrow,
    )

    f = MinHashFactory(32, M31, 0x1234567890)
    kernels = {
        "fused_band_rows": lambda d: fused_band_rows(d, f, bands=8, rows=4),
        "signatures_arrow": lambda d: signatures_arrow(
            d, f, need_shingles=True),
    }
    for name, kernel in kernels.items():
        outs = [_row_multiset(kernel(_docs_at(spark, split_rows, n)))
                for n in (1, 4, 16)]
        assert outs[0], name
        assert outs[0] == outs[1] == outs[2], name


def test_kernel_stages_plan_one_wave(spark, split_rows):
    """A 16-split input plans at most defaultParallelism kernel tasks;
    an input already under the core count keeps its splits."""
    from bloom_filters_spark.operators.arrow_sig import (
        bands_arrow,
        fused_band_rows,
        signatures_arrow,
    )

    dp = spark.sparkContext.defaultParallelism
    f = MinHashFactory(32, M31, 0x1234567890)
    docs16 = _docs_at(spark, split_rows, 16)
    sigs16 = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, list(range(8))) for i in range(64)], 16),
        "doc_id long, signature array<int>",
    )
    stages = [
        fused_band_rows(docs16, f, bands=8, rows=4),
        signatures_arrow(docs16, f),
        bands_arrow(sigs16, bands=4, rows=2),
    ]
    for out in stages:
        assert out.rdd.getNumPartitions() == min(16, dp)
    docs2 = _docs_at(spark, split_rows, 2)
    assert fused_band_rows(docs2, f, 8, 4).rdd.getNumPartitions() == 2
