"""Multimodal-column plumbing — opaque ``binary`` payloads with typed
metadata, decoded via Arrow-batched ``mapInPandas`` (SURVEY.md §7.1 M8).

The container has no image/audio libraries, so the *declared oracle
path* uses a deterministic arithmetic kernel behind
:func:`_decode_payload` (clearly marked; a real deployment swaps in
PIL/ffmpeg there). A REAL decode does execute in-sandbox though: the
dependency-free 24-bit BMP codec (:func:`encode_bmp` /
``kernel='bmp'``) parses genuine container bytes — little-endian
headers, stride padding, bottom-up rows — through the identical
``mapInPandas`` plumbing and schema. Everything Spark-side is real and
tested: binary column creation, schema contracts, Arrow batch iteration,
per-partition batching, and the BMP resize (``resize_media_bmp``).

Scale notes: decode runs per-partition over Arrow batches — the canonical
shape for 100 TB media processing (no row-at-a-time Python, no driver
involvement); partition count controls decode parallelism.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries_ext import register
from ..sources.files import ROWS_PER_TASK_HEAVY, read_input

_FORMATS = ["png", "jpeg", "wav"]


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary payload + typed metadata columns.

    In production the payload IS the stored bytes; here it is the utf-8
    encoding of ``text`` so everything stays deterministic.
    """
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.element_at(F.lit(_FORMATS), (F.col("doc_id") % 3 + 1).cast("int")).alias(
            "media_format"
        ),
    )


def q_mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over the binary column — pure JVM expressions."""
    docs = read_input(spark, sf_dir, "documents")
    return with_payload(docs).select(
        "doc_id",
        "media_format",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("digest"),
    )


SQL_MM_META = """
SELECT doc_id,
  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END
    AS media_format,
  octet_length(encode(text)) AS n_bytes,
  sha256(text) AS digest
FROM documents
"""


# --- decode via mapInPandas (Arrow batches) -----------------------------------

DECODE_SCHEMA = (
    "doc_id long, media_format string, width int, height int, "
    "n_pixels long, mean_byte double"
)


def _decode_payload(payload: bytes) -> tuple[int, int, float]:
    """STUB decode kernel (no media libs in this container).

    Deterministic fake: dimensions derived from payload length, mean
    byte value as the 'luma'. Pure arithmetic on the payload bytes, so
    the DuckDB oracle replicates it exactly (SQL_MM_DECODE) — the
    ``mapInPandas`` plumbing is the implementation under test.
    """
    n = len(payload)
    width = 16 + n % 64
    height = max(1, n // max(width, 1))
    # exact integer byte-sum via numpy (a pure-Python sum() over every
    # byte dominated the whole decode pass), then one division — value
    # identical to sum(payload)/n
    mean = int(np.frombuffer(payload, np.uint8).sum(dtype=np.int64)) / n if n else 0.0
    return width, height, mean


def _decode_payload_pil(payload: bytes) -> tuple[int, int, float]:
    """Real image-decode kernel: PIL open → (width, height, mean gray
    luma). Only reachable when PIL is importable (``kernel='pil'`` or
    ``'auto'`` with PIL installed); the Spark contract — schema, Arrow
    batches, one row per payload — is identical to the stub's."""
    from io import BytesIO

    from PIL import Image

    with Image.open(BytesIO(payload)) as im:
        width, height = im.size
        arr = np.asarray(im.convert("L"), dtype=np.int64)
        mean = float(arr.sum()) / arr.size if arr.size else 0.0
    return width, height, mean


# --- real BMP codec (dependency-free) ----------------------------------------
#
# The one decode kernel that RUNS end-to-end in this sandbox: a 24-bit
# uncompressed Windows BMP (BITMAPFILEHEADER + BITMAPINFOHEADER) parsed
# byte-for-byte — little-endian header fields, 4-byte row stride padding,
# bottom-up row order. No media libraries involved, so the mapInPandas
# pipeline exercises REAL container parsing, not just the arithmetic stub.

_BMP_HDR = 54  # 14-byte file header + 40-byte info header


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """Serialize ``rgb`` (row-major top-down, 3 bytes/pixel, len ==
    width*height*3) as a well-formed 24-bit uncompressed BMP: rows are
    written bottom-up and padded to a 4-byte stride, exactly as a real
    encoder would."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")
    stride = (width * 3 + 3) & ~3
    pad = b"\x00" * (stride - width * 3)
    body = b"".join(
        rgb[y * width * 3 : (y + 1) * width * 3] + pad
        for y in range(height - 1, -1, -1)  # bottom-up
    )
    size = _BMP_HDR + len(body)

    def le(v: int, n: int) -> bytes:
        return int(v).to_bytes(n, "little")

    header = (
        b"BM" + le(size, 4) + le(0, 4) + le(_BMP_HDR, 4)  # file header
        + le(40, 4) + le(width, 4) + le(height, 4)  # info header
        + le(1, 2) + le(24, 2) + le(0, 4) + le(len(body), 4)
        + le(2835, 4) * 2 + le(0, 4) * 2  # 72 DPI, no palette
    )
    return header + body


def _decode_payload_bmp(payload: bytes) -> tuple[int, int, float]:
    """Real decode kernel: parse a 24-bit uncompressed BMP container.
    Validates magic/bpp/compression, honors the pixel-array offset, the
    4-byte row stride, and bottom-up row order, and returns (width,
    height, mean over all R/G/B pixel bytes — padding excluded)."""
    if len(payload) < _BMP_HDR or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")

    def le(off: int, n: int) -> int:
        return int.from_bytes(payload[off : off + n], "little")

    pixel_off = le(10, 4)
    width, height = le(18, 4), le(22, 4)
    bpp, compression = le(28, 2), le(30, 4)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    stride = (width * 3 + 3) & ~3
    if pixel_off + stride * height > len(payload):
        raise ValueError("truncated BMP pixel array")
    rows = np.frombuffer(
        payload, np.uint8, count=stride * height, offset=pixel_off
    ).reshape(height, stride)[::-1, : width * 3]  # un-flip, drop padding
    n = width * height * 3
    mean = float(rows.sum(dtype=np.int64)) / n if n else 0.0
    return width, height, mean


def pick_decode_kernel(kernel: str = "auto"):
    """Kernel dispatch: ``'stub'`` (the oracle-pinned fake), ``'bmp'``
    (real dependency-free container parse — the kernel that actually
    executes in this sandbox), ``'pil'`` (real decode via PIL;
    ImportError if absent), or ``'auto'`` (PIL when importable, else the
    stub). The oracle path always pins ``'stub'`` so parity never
    depends on what's installed."""
    if kernel == "stub":
        return _decode_payload
    if kernel == "bmp":
        return _decode_payload_bmp
    if kernel == "pil":
        from PIL import Image  # noqa: F401 — fail fast on the driver

        return _decode_payload_pil
    if kernel == "auto":
        try:
            from PIL import Image  # noqa: F401

            return _decode_payload_pil
        except ImportError:
            return _decode_payload
    raise ValueError(f"unknown decode kernel: {kernel!r}")


BMP_PAYLOAD_SCHEMA = "doc_id long, payload binary, media_format string"


def with_bmp_payload(docs: DataFrame) -> DataFrame:
    """Synthetic-media source: one REAL (well-formed, parseable) BMP per
    document — dimensions derived from ``doc_id``, pixels the document's
    UTF-8 bytes tiled across the raster. Deterministic, dependency-free,
    and built per Arrow batch (``mapInPandas``), so payload generation
    scales exactly like decode does. Feed to
    ``decode_media(..., kernel='bmp')`` for an end-to-end real decode."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                width = 4 + int(doc_id) % 13  # exercises every stride pad 0-3
                height = 3 + int(doc_id) % 5
                src = text.encode("utf-8") or b"\x00"
                reps = -(-width * height * 3 // len(src))
                rgb = (src * reps)[: width * height * 3]
                rows.append((doc_id, encode_bmp(width, height, rgb), "bmp"))
            yield pd.DataFrame(rows, columns=["doc_id", "payload", "media_format"])

    return docs.select("doc_id", "text").mapInPandas(_batches, BMP_PAYLOAD_SCHEMA)


def decode_media(with_payload_df: DataFrame, kernel: str = "stub") -> DataFrame:
    """binary payload → decoded metadata, one output row per input row."""
    decode = pick_decode_kernel(kernel)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = pdf["payload"].map(decode)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_format": pdf["media_format"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                }
            )
            out["n_pixels"] = out["width"].astype("int64") * out["height"]
            out["mean_byte"] = [d[2] for d in decoded]
            yield out

    return with_payload_df.mapInPandas(_batches, DECODE_SCHEMA)


def q_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode metadata through the Pandas-UDF path. The stub kernel is
    pure arithmetic on the payload bytes, so the DuckDB oracle
    reproduces it from the text's UTF-8 byte stream — what's under test
    is the ``mapInPandas`` plumbing (schema, Arrow batching, one row per
    payload), kernel-pinned to ``'stub'`` regardless of what media libs
    are installed."""
    docs = read_input(spark, sf_dir, "documents", ROWS_PER_TASK_HEAVY)
    return decode_media(with_payload(docs), kernel="stub").drop("media_format")


# UTF-8 byte sum of one character from its code point (DuckDB ascii()
# returns the code point): 1-byte cp; 2-byte (192 + cp//64) + (128 +
# cp%64); 3-byte 224+128+128 prefix constants likewise; 4-byte ditto.
_DUCK_CHAR_BYTES = (
    "CASE WHEN ascii(c) < 128 THEN ascii(c) "
    "WHEN ascii(c) < 2048 THEN 320 + ascii(c) // 64 + ascii(c) % 64 "
    "WHEN ascii(c) < 65536 THEN 480 + ascii(c) // 4096"
    " + (ascii(c) // 64) % 64 + ascii(c) % 64 "
    "ELSE 624 + ascii(c) // 262144 + (ascii(c) // 4096) % 64"
    " + (ascii(c) // 64) % 64 + ascii(c) % 64 END"
)

SQL_MM_DECODE = f"""
WITH base AS (
  SELECT doc_id, octet_length(encode(text)) AS n,
    list_reduce([CAST(0 AS BIGINT)] ||
      list_transform(string_split(text, ''),
        c -> CAST({_DUCK_CHAR_BYTES} AS BIGINT)),
      (acc, x) -> acc + x) AS byte_sum
  FROM documents
),
dims AS (
  SELECT doc_id, n, byte_sum, CAST(16 + n % 64 AS INTEGER) AS width
  FROM base
)
SELECT doc_id, width,
  CAST(greatest(1, n // width) AS INTEGER) AS height,
  CAST(width AS BIGINT) * greatest(1, n // width) AS n_pixels,
  CASE WHEN n = 0 THEN 0.0 ELSE CAST(byte_sum AS DOUBLE) / n END AS mean_byte
FROM dims
"""


# --- perceptual-hash dedup over the real container path ----------------------------

_PH_GW, _PH_GH = 9, 8  # dHash grid: 9x8 lumas -> 64 horizontal-gradient bits


def _dhash_bmp(payload: bytes) -> str:
    """dHash of a 24-bit BMP: parse the container (same validation as
    :func:`_decode_payload_bmp`), nearest-neighbor-sample a 9x8 luma
    grid (luma = R+G+B — channel-order invariant), emit the 64
    left<right gradient bits MSB-first as 16 hex chars."""
    if len(payload) < _BMP_HDR or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")

    def le(off: int, n: int) -> int:
        return int.from_bytes(payload[off : off + n], "little")

    pixel_off = le(10, 4)
    width, height = le(18, 4), le(22, 4)
    if le(28, 2) != 24 or le(30, 4) != 0:
        raise ValueError("unsupported BMP")
    stride = (width * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, np.uint8, count=stride * height, offset=pixel_off
    ).reshape(height, stride)[::-1, : width * 3]
    lum = [
        [
            int(rows[(gy * height) // _PH_GH, 3 * ((gx * width) // _PH_GW)])
            + int(rows[(gy * height) // _PH_GH, 3 * ((gx * width) // _PH_GW) + 1])
            + int(rows[(gy * height) // _PH_GH, 3 * ((gx * width) // _PH_GW) + 2])
            for gx in range(_PH_GW)
        ]
        for gy in range(_PH_GH)
    ]
    h = 0
    for gy in range(_PH_GH):
        for gx in range(_PH_GW - 1):
            h = (h << 1) | (1 if lum[gy][gx] < lum[gy][gx + 1] else 0)
    return f"{h:016x}"


# hamming near-dup over the perceptual hashes: 4 bands of 16 bits —
# two near-identical images (hamming <= _PH_HAM_MAX) must agree on at
# least one band whenever their flipped bits miss one of the 4 bands
# (guaranteed for hamming <= 3; probabilistic above, the standard
# banding S-curve — same contract as dedup_simhash's 4x12-bit bands)
_PH_BANDS = 4
_PH_HAM_MAX = 6
# per-(band, value) anchor cap — the SemDeDup/simhash `_BUCKET_CAP`
# precedent, added in r8 after the sf3→sf10 exponent probe measured
# α = 0.95: without it a bucket of B colliding hashes contributes B²
# pairs (the population of a 16-bit key grows ~n/65536, so total work
# grows ~n²/65536 — quadratic past ~10⁵ docs, exactly the
# dedup_simhash r5 defect reappearing one modality over). With the cap
# each bucket contributes ≤ CAP·B pairs — linear. Recall contract
# becomes the simhash one: a pair is guaranteed found iff its lower
# doc_id is among the CAP smallest of some shared band bucket
# (unconditional while buckets are < CAP deep — every tested sf).
_PH_BUCKET_CAP = 128


def q_mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate images: pairs of docs whose dHashes differ in at
    most ``_PH_HAM_MAX`` of 64 bits — the re-encoded/lightly-edited
    image case exact phash grouping misses. The 64 bits split into 4
    16-bit band keys; candidate pairs come from band-key collisions
    (equi-join, never all-pairs), capped-anchor side (see
    ``_PH_BUCKET_CAP``), the exact hamming distance
    (``bit_count(xor)``) filters, and DISTINCT collapses multi-band
    hits. Same banded shape as ``dedup_simhash``, applied to media.
    The hash halves are BIGINTs computed alongside the hex form, so no
    cross-engine hex parsing is involved."""
    docs = read_input(spark, sf_dir, "documents", ROWS_PER_TASK_HEAVY)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            full = [int(_dhash_bmp(p), 16) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "hi": [h >> 32 for h in full],
                    "lo": [h & 0xFFFFFFFF for h in full],
                }
            )

    hashed = with_bmp_payload(docs).mapInPandas(
        _batches, "doc_id long, hi long, lo long"
    ).localCheckpoint(eager=True)
    # ^ the encode->parse->dHash Arrow kernel is the expensive stage and
    # the band join reads it on BOTH sides (anchor window + candidate
    # side) — without materialization it runs twice (measured 2x at
    # sf0.1, r12). The materialized frame is 24 bytes/doc (doc_id, hi,
    # lo) — linear, distributed, fine at 100 TB corpus scale.
    banded = hashed.selectExpr(
        "doc_id", "hi", "lo",
        "explode(array("
        " struct(0 AS band_id, hi div 65536 AS band_val),"
        " struct(1 AS band_id, hi % 65536 AS band_val),"
        " struct(2 AS band_id, lo div 65536 AS band_val),"
        " struct(3 AS band_id, lo % 65536 AS band_val))) AS band",
    ).select("doc_id", "hi", "lo", "band.band_id", "band.band_val")
    from pyspark.sql import Window

    w = Window.partitionBy("band_id", "band_val").orderBy("doc_id")
    anchors = (
        banded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PH_BUCKET_CAP)
        .drop("rn")
    )
    a = anchors.selectExpr(
        "doc_id AS doc_a", "hi AS hi_a", "lo AS lo_a", "band_id", "band_val"
    )
    b = banded.selectExpr(
        "doc_id AS doc_b", "hi AS hi_b", "lo AS lo_b", "band_id", "band_val"
    )
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .selectExpr(
            "doc_a", "doc_b",
            "CAST(bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)"
            " AS BIGINT) AS hamming",
        )
        .filter(F.col("hamming") <= _PH_HAM_MAX)
        .distinct()
    )


def _phash_halves_ctes() -> str:
    """Shared from-source derivation: CTEs ending in
    ``halves(doc_id, hi, lo)`` — the two 32-bit words of the dHash,
    rebuilt from the document bytes (no container involved). Both the
    exact-group oracle and the hamming-band oracle compose from this
    (shared-parts composition, not string surgery — the PCA-SQL
    lesson from the r6 ADVICE)."""
    gw, gh = _PH_GW, _PH_GH
    byte = (
        "CASE WHEN L = 0 THEN 0"
        " ELSE ascii(substring(text, (({q}) % L) + 1, 1)) END"
    )
    p = f"((((i // {gw}) * h) // {gh}) * w + (((i % {gw}) * w) // {gw})) * 3"
    elem = " + ".join(byte.format(q=f"({p}) + {c}") for c in range(3))
    halves = []
    for lo_half in (0, 1):
        terms = []
        for k in range(32):
            bit = lo_half * 32 + k
            gy, gx = bit // (gw - 1), bit % (gw - 1)
            left = f"lv[{gy * gw + gx + 1}]"
            right = f"lv[{gy * gw + gx + 2}]"
            terms.append(
                f"(CASE WHEN {left} < {right} THEN 1 ELSE 0 END"
                f" * {1 << (31 - k)})"
            )
        halves.append("CAST(" + " + ".join(terms) + " AS BIGINT)")
    return f"""g AS (
  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 5 AS h,
    length(text) AS L, text
  FROM documents
),
lum AS (
  SELECT doc_id,
    list_transform(range(0, {gw * gh}), i -> {elem}) AS lv
  FROM g
),
halves AS (
  SELECT doc_id, {halves[0]} AS hi, {halves[1]} AS lo FROM lum
)"""


def _phash_neardup_sql() -> str:
    return f"""
WITH {_phash_halves_ctes()},
banded AS (
  SELECT doc_id, hi, lo, b.band_id AS band_id,
    CASE b.band_id WHEN 0 THEN hi // 65536 WHEN 1 THEN hi % 65536
      WHEN 2 THEN lo // 65536 ELSE lo % 65536 END AS band_val
  FROM halves, UNNEST(range(0, {_PH_BANDS})) AS b(band_id)
),
anchors AS (
  SELECT doc_id, hi, lo, band_id, band_val FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY band_id, band_val ORDER BY doc_id) AS rn
    FROM banded
  ) WHERE rn <= {_PH_BUCKET_CAP}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
    AS BIGINT) AS hamming
FROM anchors a JOIN banded b
  ON a.band_id = b.band_id AND a.band_val = b.band_val
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
  <= {_PH_HAM_MAX}
"""


RESIZE_BMP_SCHEMA = (
    "doc_id long, width int, height int, new_width int, new_height int,"
    " n_sampled long, sum_sampled long, resized_payload binary"
)


def resize_media_bmp(with_payload_df: DataFrame) -> DataFrame:
    """REAL nearest-neighbor 2x downsample through the BMP container:
    parse (same validation as the decode kernel), keep every second
    pixel (src = 2*dst in both axes), RE-ENCODE the result as a
    well-formed BMP, and emit the exact integer sum over the sampled
    R/G/B bytes alongside. One input row -> one output row; everything
    runs per Arrow batch in ``mapInPandas`` — the canonical 100 TB
    image-preprocessing shape (decode -> transform -> re-encode with no
    driver involvement)."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                if len(payload) < _BMP_HDR or payload[:2] != b"BM":
                    raise ValueError("not a BMP payload")

                def le(off: int, n: int) -> int:
                    return int.from_bytes(payload[off : off + n], "little")

                pixel_off = le(10, 4)
                w, h = le(18, 4), le(22, 4)
                if le(28, 2) != 24 or le(30, 4) != 0:
                    raise ValueError("unsupported BMP")
                stride = (w * 3 + 3) & ~3
                grid = np.frombuffer(
                    payload, np.uint8, count=stride * h, offset=pixel_off
                ).reshape(h, stride)[::-1, : w * 3]
                nw, nh = max(1, w // 2), max(1, h // 2)
                px = grid.reshape(h, w, 3)[: 2 * nh : 2, : 2 * nw : 2, :]
                total = int(px.sum(dtype=np.int64))
                out = encode_bmp(nw, nh, px.tobytes())
                rows.append(
                    (doc_id, w, h, nw, nh, nw * nh * 3, total, out)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "new_width", "new_height",
                    "n_sampled", "sum_sampled", "resized_payload",
                ],
            )

    return with_payload_df.mapInPandas(_batches, RESIZE_BMP_SCHEMA)


def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize metadata through the REAL container path (payload built by
    ``with_bmp_payload``, parsed and re-encoded by
    :func:`resize_media_bmp`). The oracle replays the sampled-byte sum
    straight from the document text (the pixels ARE the utf-8 bytes
    tiled row-major — the ``_phash_halves_ctes`` trick), so parity
    checks the full parse -> sample arithmetic; the re-encoded payload
    is pytest-verified to round-trip through the decode kernel
    (tests/test_mm_features.py)."""
    docs = read_input(spark, sf_dir, "documents")
    return resize_media_bmp(with_bmp_payload(docs)).selectExpr(
        "doc_id", "width", "height", "new_width", "new_height",
        "n_sampled", "sum_sampled",
        "CAST(sum_sampled AS DOUBLE) / CAST(n_sampled AS DOUBLE)"
        " AS resized_mean",
    )


def _resize_sql() -> str:
    # sampled byte (dst pixel (y2,x2), channel c) = text char at
    # ((2*y2*w + 2*x2)*3 + c) % L — ASCII corpus, char == byte (the
    # assumption _phash_halves_ctes already leans on)
    q = "(((2 * (i // (nw * 3) // 1)) * w + 2 * ((i % (nw * 3)) // 3)) * 3 + i % 3)"
    byte = f"CASE WHEN L = 0 THEN 0 ELSE ascii(substring(text, (({q}) % L) + 1, 1)) END"
    return f"""
WITH g AS (
  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 5 AS h,
    length(text) AS L, text
  FROM documents
),
dims AS (
  SELECT doc_id, w, h, L, text,
    greatest(1, w // 2) AS nw, greatest(1, h // 2) AS nh
  FROM g
),
sums AS (
  SELECT doc_id, w, h, nw, nh,
    CAST(nw * nh * 3 AS BIGINT) AS n_sampled,
    list_reduce([CAST(0 AS BIGINT)] ||
      list_transform(range(0, nw * nh * 3),
        i -> CAST({byte} AS BIGINT)),
      (acc, x) -> acc + x) AS sum_sampled
  FROM dims
)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
  CAST(nw AS INTEGER) AS new_width, CAST(nh AS INTEGER) AS new_height,
  n_sampled, sum_sampled,
  CAST(sum_sampled AS DOUBLE) / CAST(n_sampled AS DOUBLE) AS resized_mean
FROM sums
"""


def register_all() -> None:
    register("mm_meta", q_mm_meta, SQL_MM_META)
    register("mm_decode_stub", q_mm_decode, SQL_MM_DECODE)
    register(
        "mm_phash_neardup", q_mm_phash_neardup, _phash_neardup_sql()
    )
    register("mm_resize", q_mm_resize, _resize_sql())
