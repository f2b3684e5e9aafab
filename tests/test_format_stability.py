"""Encoded-format stability goldens.

Resume-from-manifest correctness across engine versions requires that
the SAME input bytes encode to the SAME chunk ids and payload bytes.
These goldens pin that. If a codec/format change is INTENTIONAL, update
the goldens (and accept that pre-existing datasets need re-encoding or
a format-version gate).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pytest

from colcrush.codecs import bitpack, bloom, decode_array, encode_array, fsst, intcodec
from colcrush.engine.encoder import chunk_id_for
from colcrush.fixtures import source_code_table


def test_chunk_id_function_stable():
    assert chunk_id_for('["python"]', 0, 0) == hashlib.sha256(
        b'["python"]|0|0'
    ).hexdigest()[:32]


def test_fixture_generation_stable():
    """The deterministic fixture itself must not drift (its bytes feed
    every golden below)."""
    tbl = source_code_table(100, n_repos=10)
    h = hashlib.sha256()
    for col in tbl.column_names:
        for v in tbl.column(col).to_pylist():
            h.update(v.encode())
    assert h.hexdigest() == _FIXTURE_SHA, (
        f"fixture drifted: {h.hexdigest()} (update golden if intentional)"
    )


@pytest.fixture(params=["native", "numpy"])
def kernels(request, monkeypatch):
    """Run a golden with the C kernels as loaded, then with every
    kernel off at once: both must hit the same bytes."""
    if request.param == "numpy":
        for mod in (intcodec, fsst, bloom, bitpack):
            monkeypatch.setattr(mod, "_native", None)
    return request.param


def test_encoded_blob_stable(kernels):
    tbl = source_code_table(200, n_repos=10)
    got = {}
    for col in ("content", "lang", "path"):
        arr = tbl.column(col).combine_chunks()
        blob, meta = encode_array(arr)
        assert decode_array(blob).to_pylist() == arr.to_pylist()
        got[col] = (meta["codec"], hashlib.sha256(blob).hexdigest()[:16])
    assert got == _BLOB_GOLDENS, f"encoded format drifted: {got}"


# --- goldens (regenerate with scripts/regen_goldens.py) ---
_FIXTURE_SHA = "f982717d332a2a678d293a8bfe5f0a2605d24041757978dc8e37d155934be616"
_BLOB_GOLDENS = {'content': ('fsst', 'f431a8868d5c348b'), 'lang': ('dict', '0da15ed86f3b5f8a'), 'path': ('fsst', '04bc3fbc03daec20')}


def test_decimal_blob_stable(kernels):
    """Decimal codec format golden: a fixed decimal array encodes to
    fixed bytes via the unscaled-int path (never IPC)."""
    import decimal

    D = decimal.Decimal
    arr = pa.array(
        [D(i * 7 % 1000) / 100 for i in range(500)] + [None],
        type=pa.decimal128(12, 2),
    )
    blob, meta = encode_array(arr)
    assert meta["codec"] != "ipc"
    assert decode_array(blob).equals(arr)
    got = (meta["codec"], hashlib.sha256(blob).hexdigest()[:16])
    assert got == _DECIMAL_GOLDEN, f"decimal format drifted: {got}"


_DECIMAL_GOLDEN = ('ints', '8a1f85eea33efe93')


def test_dec128_blob_stable(kernels):
    """DecimalType(38,18) golden — the reference's DEFAULT decimal
    format (DecimalFormat.scala:21-26). Pins the dec128 container and
    its sub-mode selection (descale/delta128/words)."""
    import decimal

    D = decimal.Decimal
    cases = [
        # descale mode: money values = multiples of 10^16
        pa.array([D(i * 7 % 1000) / 100 for i in range(500)] + [None],
                 type=pa.decimal128(38, 18)),
        # words mode: full-scale digits
        pa.array([D("0.123456789123456789") * i for i in range(64)],
                 type=pa.decimal128(38, 18)),
    ]
    got = []
    for arr in cases:
        blob, meta = encode_array(arr)
        assert meta["codec"] == "dec128"
        assert decode_array(blob).equals(arr)
        got.append(hashlib.sha256(blob).hexdigest()[:16])
    assert got == _DEC128_GOLDENS, f"dec128 format drifted: {got}"


_DEC128_GOLDENS = ['0a688ae7a0e28252', '2c3379abb26d6ddd']


def test_archive_blob_value_golden():
    """DECODE-side stability for the ENTROPY (archive) container: a
    checked-in zstd-wrapped blob must decode to identical VALUES under
    any pyarrow/zstd build (VERDICT r7 #4). Byte-level goldens are
    deliberately refused for archive blobs — zstd output bytes vary
    across library versions (codecs/column.py caveat) — but any zstd
    decompressor reproduces the exact wrapped bytes, so decoded values
    are version-independent and this golden survives a pyarrow bump."""
    import os

    d = os.path.join(os.path.dirname(__file__), "data")
    blob = open(os.path.join(d, "archive_blob_r8.bin"), "rb").read()
    got = decode_array(blob)
    want = source_code_table(400, n_repos=10).column("content").combine_chunks()
    assert got.to_pylist() == want.to_pylist()
    sha = hashlib.sha256("".join(got.to_pylist()).encode()).hexdigest()
    assert sha == _ARCHIVE_VALUES_SHA
    # and a freshly ENCODED archive blob keeps round-tripping on the
    # current build (its bytes are NOT goldened, by design)
    fresh, meta = encode_array(want, profile="archive")
    assert meta["codec"].endswith("+zstd")
    assert decode_array(fresh).to_pylist() == want.to_pylist()


_ARCHIVE_VALUES_SHA = (
    "dbb3b23853576e341bf76420b2bb97bcb0239a2d1b02a5153ece9470d76167b1"
)


def test_legacy_blob_decodes():
    """DECODE-side stability: blobs persisted by the round-2 encoder
    (iterated pair-substitution FSST) must keep decoding byte-for-byte
    after encoder changes — decode depends only on the serialized
    table, never on the encode strategy, so datasets written by any
    prior engine version stay readable without re-encoding."""
    import os

    from colcrush.fixtures import source_code_table

    d = os.path.join(os.path.dirname(__file__), "data")
    blob = open(os.path.join(d, "legacy_fsst_blob_r2.bin"), "rb").read()
    got = decode_array(blob)
    want = source_code_table(60, n_repos=5).column("content").combine_chunks()
    assert got.to_pylist() == want.to_pylist()
    sha = hashlib.sha256("".join(got.to_pylist()).encode()).hexdigest()
    assert sha == "5edaf26c9eb0216d70de573b0b0fbeff704cd060636a8eacdaf2f18f8bf047b2"

    iblob = open(os.path.join(d, "legacy_ints_blob_r2.bin"), "rb").read()
    iarr = decode_array(iblob)
    assert iarr.to_pylist() == [i * 37 % 1000 for i in range(2000)] + [None]
