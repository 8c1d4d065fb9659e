import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from solr_spark.index.codec import (
    delta_varint_decode,
    delta_varint_encode,
    varint_decode,
    varint_encode,
)


def test_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert len(varint_decode(b"")) == 0
    assert delta_varint_encode(np.array([], dtype=np.int64)) == b""


def test_known_values():
    vals = np.array([0, 1, 127, 128, 300, 2**31, 2**63 - 1], dtype=np.uint64)
    assert list(varint_decode(varint_encode(vals))) == list(vals)
    # single-byte values encode to one byte each
    assert len(varint_encode(np.array([0, 1, 127]))) == 3
    assert len(varint_encode(np.array([128]))) == 2


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert list(varint_decode(varint_encode(arr))) == vals


@given(st.sets(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=400))
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(vals):
    arr = np.array(sorted(vals), dtype=np.int64)
    out = delta_varint_decode(delta_varint_encode(arr))
    assert list(out.astype(np.int64)) == sorted(vals)


def test_delta_compression_wins():
    # dense sorted ids: gaps are tiny → ~1 byte per id regardless of magnitude
    ids = np.arange(10**9, 10**9 + 10_000, dtype=np.int64)
    enc = delta_varint_encode(ids)
    assert len(enc) < 10_000 + 10  # first abs value + 1 byte per gap


def test_vectorized_block_encoder_byte_identical_to_reference():
    """_encode_blocks_vec (production, one segmented varint pass per
    stream) must produce byte-identical blocks to the per-block
    reference encoder for every stream, including positions/payloads."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from solr_spark.index.build import _encode_blocks_vec, _encode_group_rows

    rng = np.random.default_rng(42)
    rows = []
    for term in ["alpha", "beta", "gamma"]:
        for salt in ([0, 1] if term == "beta" else [0]):
            n = int(rng.integers(1, 300))
            doc_ids = np.sort(rng.choice(np.arange(10_000), size=n, replace=False))
            for d in doc_ids:
                tf = int(rng.integers(1, 5))
                positions = np.sort(
                    rng.choice(np.arange(500), size=tf, replace=False)
                ).tolist()
                payloads = [int(x) for x in rng.integers(0, 8, tf)]
                rows.append((term, salt, int(d), tf, int(rng.integers(tf, 600)),
                             positions, payloads))
    pdf = pd.DataFrame(
        rows, columns=["term", "salt", "doc_id", "tf", "doc_len", "positions", "payloads"]
    )
    ref = _encode_group_rows(pdf, block_size=64, with_positions=True, with_payloads=True)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    got = _encode_blocks_vec(tbl, 64, True, True).to_pandas()
    assert len(ref) == len(got)
    for col in ref.columns:
        a, b = ref[col].tolist(), got[col].tolist()
        assert a == b, f"column {col} differs"


@st.composite
def _block_postings(draw):
    """(term, salt, doc_id)-sorted postings of several terms and salt
    streams, each doc with ascending positions and one payload per
    occurrence — the rows the block encoder consumes."""
    rows = []
    for t in range(draw(st.integers(1, 4))):
        for salt in sorted(draw(st.sets(st.integers(0, 3), min_size=1, max_size=3))):
            docs = draw(st.lists(st.integers(0, 2**40), min_size=1, max_size=150, unique=True))
            for d in sorted(docs):
                pos = sorted(draw(st.sets(st.integers(0, 2**31 - 1), min_size=1, max_size=5)))
                pay = draw(st.lists(st.integers(0, 7), min_size=len(pos), max_size=len(pos)))
                dl = draw(st.integers(len(pos), 2**31 - 1))
                rows.append((f"t{t}", salt, d, len(pos), dl, pos, pay))
    return rows


@given(_block_postings(), st.integers(1, 40), st.data())
@settings(max_examples=60, deadline=None)
def test_decode_blocks_roundtrips_block_encoder(rows, block_size, data):
    """Multi-term, multi-block postings with positions and payloads,
    encoded by the production block encoder and decoded by the codec's
    block kernel, equal the input arrays — also for a batch that starts
    mid-column (a sliced Arrow batch, as Spark may hand a kernel)."""
    import pandas as pd
    import pyarrow as pa

    from solr_spark.index.build import _encode_blocks_vec
    from solr_spark.index.codec import decode_blocks

    pdf = pd.DataFrame(
        rows, columns=["term", "salt", "doc_id", "tf", "doc_len", "positions", "payloads"]
    )
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    blocks = _encode_blocks_vec(tbl, block_size, True, True)
    cut = data.draw(st.integers(0, blocks.num_rows - 1))
    rb = blocks.slice(cut)
    got = decode_blocks(
        rb.column("n_docs"), rb.column("doc_ids_enc"), rb.column("tfs_enc"),
        rb.column("dls_enc"), rb.column("pos_enc"), rb.column("payloads_enc"),
    )
    skip = int(np.asarray(blocks.column("n_docs"))[:cut].sum())
    exp = pdf.iloc[skip:]
    assert got.doc_id.tolist() == exp["doc_id"].tolist()
    assert got.tf.tolist() == exp["tf"].tolist()
    assert got.dl.tolist() == exp["doc_len"].tolist()
    assert got.pos.tolist() == [p for ps in exp["positions"] for p in ps]
    assert got.payload.tolist() == [p for ps in exp["payloads"] for p in ps]
    assert decode_blocks(
        rb.column("n_docs"), rb.column("doc_ids_enc"), rb.column("tfs_enc"), rb.column("dls_enc")
    ).pos is None


def test_decode_blocks_rejects_index_without_payloads():
    import pyarrow as pa

    from solr_spark.index.codec import decode_blocks

    enc = pa.array([varint_encode(np.array([5]))], type=pa.binary())
    with pytest.raises(ValueError, match="without payloads"):
        decode_blocks([1], enc, enc, enc, payloads_enc=pa.nulls(1, pa.binary()))
