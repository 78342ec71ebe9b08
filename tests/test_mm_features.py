"""Multimodal decode kernels (the dependency-free BMP codec and the PIL
dispatch), the BMP resize round-trip, and the Pandas-UDF cosine
equivalence with the expression form."""

from __future__ import annotations

from pyspark.sql import functions as F

from impala_base_to_cdw_sizing_spark.operators.similarity import (
    SPARK_DOT,
    cosine_pandas_udf,
)

from tests.conftest import SF_SMALL


def test_pandas_udf_cosine_matches_expression_form(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(40)
    pairs = (
        emb.selectExpr(
            "vec_id AS a_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS va"
        )
        .crossJoin(
            emb.selectExpr(
                "vec_id AS b_id",
                "transform(embedding, x -> CAST(x AS DOUBLE)) AS vb",
            )
        )
        .filter(F.col("a_id") < F.col("b_id"))
        .limit(200)
    )
    cos_udf = cosine_pandas_udf()
    both = pairs.select(
        "a_id", "b_id",
        (
            F.expr(SPARK_DOT.format(a="va", b="vb"))
            / F.sqrt(
                F.expr(SPARK_DOT.format(a="va", b="va"))
                * F.expr(SPARK_DOT.format(a="vb", b="vb"))
            )
        ).alias("expr_cos"),
        cos_udf("va", "vb").alias("udf_cos"),
    )
    for r in both.collect():
        assert abs(r.expr_cos - r.udf_cos) < 1e-12, (r.a_id, r.b_id)


def test_bmp_roundtrip_kernel_is_exact():
    """The dependency-free REAL decode kernel: encode a known raster,
    parse it back, and require exact dimensions + mean — including the
    stride-padding widths (width % 4 != 0) and an all-zero image."""
    from impala_base_to_cdw_sizing_spark.operators.multimodal import (
        _decode_payload_bmp,
        encode_bmp,
    )

    for width, height in [(4, 3), (5, 2), (6, 1), (7, 4), (1, 1)]:
        n = width * height * 3
        rgb = bytes((i * 37 + 11) % 256 for i in range(n))
        payload = encode_bmp(width, height, rgb)
        w, h, mean = _decode_payload_bmp(payload)
        assert (w, h) == (width, height)
        assert mean == sum(rgb) / n  # padding bytes must NOT leak in
    w, h, mean = _decode_payload_bmp(encode_bmp(3, 3, b"\x00" * 27))
    assert (w, h, mean) == (3, 3, 0.0)


def test_bmp_roundtrip_property():
    """Hypothesis: ANY raster (width 1..64, height 1..16, arbitrary
    bytes) must round-trip the codec exactly — dims identical, mean from
    pixel bytes only (stride padding excluded)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from impala_base_to_cdw_sizing_spark.operators.multimodal import (
        _decode_payload_bmp,
        encode_bmp,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 64),
        h=st.integers(1, 16),
        seed=st.integers(0, 2**31),
    )
    def check(w, h, seed):
        n = w * h * 3
        rgb = bytes((seed * 2654435761 + i * 97 + (i * i) % 251) % 256 for i in range(n))
        got_w, got_h, mean = _decode_payload_bmp(encode_bmp(w, h, rgb))
        assert (got_w, got_h) == (w, h)
        assert mean == sum(rgb) / n

    check()


def test_bmp_kernel_rejects_malformed_payloads():
    import pytest

    from impala_base_to_cdw_sizing_spark.operators.multimodal import (
        _decode_payload_bmp,
        encode_bmp,
    )

    good = encode_bmp(4, 2, bytes(range(24)))
    with pytest.raises(ValueError, match="not a BMP"):
        _decode_payload_bmp(b"GIF89a" + good[2:])
    with pytest.raises(ValueError, match="truncated"):
        _decode_payload_bmp(good[:-5])
    bad_bpp = bytearray(good)
    bad_bpp[28] = 8  # claim 8-bit palette image
    with pytest.raises(ValueError, match="unsupported"):
        _decode_payload_bmp(bytes(bad_bpp))


def test_mm_decode_end_to_end_with_real_bmp_kernel(spark):
    """End-to-end real decode through the same mapInPandas plumbing the
    stub uses: synthetic BMP payloads (real container bytes) → decode
    with kernel='bmp' → DECODE_SCHEMA rows whose values match a local
    re-derivation from the generator's parameters."""
    from impala_base_to_cdw_sizing_spark.operators.multimodal import (
        decode_media,
        with_bmp_payload,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(40)
    decoded = decode_media(with_bmp_payload(docs), kernel="bmp")
    # same column contract as the oracle-pinned stub path
    assert decoded.schema.simpleString() == (
        "struct<doc_id:bigint,media_format:string,width:int,height:int,"
        "n_pixels:bigint,mean_byte:double>"
    )
    got = {r.doc_id: r for r in decoded.collect()}
    for row in docs.select("doc_id", "text").collect():
        width = 4 + row.doc_id % 13
        height = 3 + row.doc_id % 5
        src = row.text.encode("utf-8") or b"\x00"
        n = width * height * 3
        reps = -(-n // len(src))
        rgb = (src * reps)[:n]
        r = got[row.doc_id]
        assert (r.width, r.height) == (width, height)
        assert r.n_pixels == width * height
        assert r.mean_byte == sum(rgb) / n


def test_decode_kernel_dispatch_without_pil():
    """With PIL absent: 'auto' falls back to the stub, 'stub' is the
    stub, 'pil' fails fast on the driver, unknown names are rejected."""
    import pytest

    from impala_base_to_cdw_sizing_spark.operators import multimodal as mm

    assert mm.pick_decode_kernel("stub") is mm._decode_payload
    assert mm.pick_decode_kernel("bmp") is mm._decode_payload_bmp
    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if has_pil:
        assert mm.pick_decode_kernel("auto") is mm._decode_payload_pil
    else:
        assert mm.pick_decode_kernel("auto") is mm._decode_payload
        with pytest.raises(ImportError):
            mm.pick_decode_kernel("pil")
    with pytest.raises(ValueError):
        mm.pick_decode_kernel("nope")


def test_decode_kernel_pil_branch_via_fake_module(monkeypatch):
    """Exercise the real-decode branch by injecting a minimal fake PIL:
    dispatch must select _decode_payload_pil and the kernel must return
    (width, height, mean-luma) from the fake image object — proving the
    contract shape is identical to the stub's."""
    import sys
    import types

    import numpy as np

    class _FakeImg:
        size = (4, 2)

        def convert(self, mode):
            assert mode == "L"
            return self

        def __array__(self, dtype=None, copy=None):
            return np.arange(8, dtype="int64").reshape(2, 4)

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    fake_pil = types.ModuleType("PIL")
    fake_image_mod = types.ModuleType("PIL.Image")
    fake_image_mod.open = lambda fp: _FakeImg()
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)

    from impala_base_to_cdw_sizing_spark.operators import multimodal as mm

    kernel = mm.pick_decode_kernel("auto")
    assert kernel is mm._decode_payload_pil
    w, h, mean = kernel(b"anything")
    assert (w, h) == (4, 2)
    assert mean == np.arange(8).mean()


def test_resize_roundtrips_through_real_decoder(spark):
    """The resized payload is a REAL BMP: re-parse every one with the
    decode kernel and check dims halve and the mean matches the exact
    sampled-sum arithmetic the oracle verifies."""
    from impala_base_to_cdw_sizing_spark.operators.multimodal import (
        _decode_payload_bmp,
        resize_media_bmp,
        with_bmp_payload,
    )
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    rows = resize_media_bmp(with_bmp_payload(docs)).collect()
    assert rows
    for r in rows:
        assert r.new_width == max(1, r.width // 2)
        assert r.new_height == max(1, r.height // 2)
        w2, h2, mean2 = _decode_payload_bmp(bytes(r.resized_payload))
        assert (w2, h2) == (r.new_width, r.new_height)
        assert mean2 == r.sum_sampled / r.n_sampled
