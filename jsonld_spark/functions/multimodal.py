"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct; decode / feature-extraction run as Arrow-batched
``mapInPandas`` stages.  No pixel codec is used: image dimensions
come from header bytes (``parse_image_dims``), anything else gets a
deterministic fake — the Spark-side plumbing (schema, batch shape,
partition flow) is real and tested, which is the part that matters at
100 TB: payload bytes stay columnar in Arrow; only metadata leaves the
stage.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame, functions as F, types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def attach_payload(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, payload BINARY, media_type).  Test stand-in:
    the UTF-8 text bytes play the role of an undecoded media blob."""
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("media_type"),
    )


def parse_image_dims(b: bytes):
    """(format, width, height) from the PUBLIC header byte layouts of
    the four big web image formats, or None when ``b`` is not one of
    them.  Pure Python over a few header bytes — no codec dependency:

    - PNG: 8-byte signature, then the IHDR chunk is REQUIRED first
      (PNG spec §11.2.2): width/height big-endian uint32 at offsets
      16/20.
    - GIF: 'GIF87a'/'GIF89a', logical-screen width/height little-endian
      uint16 at offsets 6/8.
    - JPEG: marker scan from SOI; the frame header SOFn (0xC0-0xCF
      minus DHT 0xC4 / JPG 0xC8 / DAC 0xCC) carries [len, precision,
      height:be16, width:be16]; standalone markers (RSTn, TEM, SOI)
      have no length field and are stepped over.
    - WEBP: RIFF container; VP8X extended header stores canvas
      (width-1)/(height-1) as 24-bit LE at chunk-payload offsets 4/7;
      lossy VP8 stores 14-bit LE dims after the 9D 01 2A start code;
      lossless VP8L packs (width-1) in bits 0-13 and (height-1) in
      bits 14-27 of the LE uint32 after the 0x2F signature."""
    if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
        return (
            "png",
            int.from_bytes(b[16:20], "big"),
            int.from_bytes(b[20:24], "big"),
        )
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        return (
            "gif",
            int.from_bytes(b[6:8], "little"),
            int.from_bytes(b[8:10], "little"),
        )
    if len(b) >= 4 and b[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                return None  # lost marker sync
            marker = b[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone: TEM / SOI / RSTn carry no length
                continue
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 <= len(b):
                    return (
                        "jpeg",
                        int.from_bytes(b[i + 7: i + 9], "big"),
                        int.from_bytes(b[i + 5: i + 7], "big"),
                    )
                return None
            i += 2 + int.from_bytes(b[i + 2: i + 4], "big")
        return None
    if len(b) >= 16 and b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        kind = b[12:16]
        if kind == b"VP8X" and len(b) >= 30:
            return (
                "webp",
                1 + int.from_bytes(b[24:27], "little"),
                1 + int.from_bytes(b[27:30], "little"),
            )
        if kind == b"VP8 " and len(b) >= 30 and b[23:26] == b"\x9d\x01\x2a":
            return (
                "webp",
                int.from_bytes(b[26:28], "little") & 0x3FFF,
                int.from_bytes(b[28:30], "little") & 0x3FFF,
            )
        if kind == b"VP8L" and len(b) >= 25 and b[20] == 0x2F:
            bits = int.from_bytes(b[21:25], "little")
            return ("webp", (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1)
    return None


def _fake_dims(digest: str) -> tuple[int, int]:
    """Deterministic fake for non-image payloads (documented stand-in —
    keeps the feature stage total over arbitrary blobs)."""
    return 64 + int(digest[:2], 16), 64 + int(digest[2:4], 16)


def extract_features(payloads: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads: real
    header-parsed (format, width, height) for PNG/GIF/JPEG/WEBP
    payloads, md5-derived deterministic fake dims (format NULL) for
    anything else."""
    import pandas as pd

    from ..udfs import release_launch_zip_finders

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        try:
            for pdf in batches:
                out = []
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                    b = bytes(payload) if payload is not None else b""
                    digest = hashlib.md5(b).hexdigest()
                    parsed = parse_image_dims(b)
                    if parsed is not None:
                        fmt, w, h = parsed
                    else:
                        fmt = None
                        w, h = _fake_dims(digest)
                    out.append((int(doc_id), len(b), digest, fmt, w, h))
                yield pd.DataFrame(
                    out,
                    columns=[
                        "doc_id", "n_bytes", "digest", "format", "width", "height",
                    ],
                )
        finally:
            release_launch_zip_finders()

    from ..pipeline import parallelize_small_input

    return parallelize_small_input(
        payloads.select("doc_id", "payload")
    ).mapInPandas(fn, FEATURE_SCHEMA)


def payload_meta(docs: DataFrame) -> DataFrame:
    """JVM-only metadata path (oracle-checkable: no Python involved)."""
    return attach_payload(docs).select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("digest"),
    ).orderBy("doc_id")


PAYLOAD_META_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS digest
FROM documents ORDER BY doc_id
"""

# Oracle for the mapInPandas feature stage: every output column is a
# deterministic function of the payload bytes (md5-derived fake dims
# stand in for a pixel decode), so DuckDB can predict it exactly.
# ASSUMPTION (ADVICE r6): the text-derived payloads this SQL mirrors
# never BEGIN with a real image signature (PNG/GIF/JPEG/WEBP magic) —
# extract_features would then real-parse dims while this oracle still
# predicts md5-fake dims.  The fixture generator keeps payloads
# plain-text; revisit if payload synthesis ever changes.
# coalesce(text, '') mirrors extract_features' NULL-payload → b"" branch
# (without it, DuckDB's NULL-skipping concat() yields '0x' and the INT
# cast crashes the oracle while Spark returns a normal row).
MULTIMODAL_FEATURES_SQL = """
WITH t AS (SELECT doc_id, coalesce(text, '') AS text FROM documents)
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS digest,
       CAST(NULL AS VARCHAR) AS format,
       CAST(64 + CAST(('0x' || substr(md5(text), 1, 2)) AS INTEGER) AS INTEGER) AS width,
       CAST(64 + CAST(('0x' || substr(md5(text), 3, 2)) AS INTEGER) AS INTEGER) AS height
FROM t ORDER BY doc_id
"""

# --- image-header dims oracle -------------------------------------------------
# Synthesize VALID format headers JVM-side from doc_id (unhex over
# arithmetic — nothing random, no files), parse them back through the
# Python header parser, and let the oracle predict the dims DIRECTLY
# from doc_id: if parse_image_dims mis-reads any byte layout, the
# round-trip breaks the value hash.  The JPEG variant places an APP0
# segment before SOF0 so the marker SCAN (not just offset math) is
# exercised; dims exceed 255 so multi-byte fields are too.


def synth_image_payloads(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, payload) with payload a minimal valid
    PNG/GIF/JPEG/WEBP-VP8X header whose dims derive from doc_id."""
    w = "(100 + doc_id % 1000)"
    h = "(50 + doc_id % 700)"
    be16 = "lpad(hex({v}), 4, '0')"
    be32 = "lpad(hex({v}), 8, '0')"
    # little-endian = byte-swapped big-endian hex
    le16 = (
        "concat(substr(lpad(hex({v}), 4, '0'), 3, 2), "
        "substr(lpad(hex({v}), 4, '0'), 1, 2))"
    )
    le24 = (
        "concat(substr(lpad(hex({v}), 6, '0'), 5, 2), "
        "substr(lpad(hex({v}), 6, '0'), 3, 2), "
        "substr(lpad(hex({v}), 6, '0'), 1, 2))"
    )
    png = (
        "concat('89504E470D0A1A0A0000000D49484452', "
        f"{be32.format(v=w)}, {be32.format(v=h)}, '0806000000')"
    )
    gif = f"concat('474946383961', {le16.format(v=w)}, {le16.format(v=h)}, '00')"
    jpeg = (
        "concat('FFD8', 'FFE000100000000000000000000000000000', "
        f"'FFC0001108', {be16.format(v=h)}, {be16.format(v=w)}, "
        "'03000000000000000000')"
    )
    webp = (
        "concat('52494646240000005745425056503858', '0A000000', '00000000', "
        f"{le24.format(v=w + ' - 1')}, {le24.format(v=h + ' - 1')})"
    )
    return docs.select(
        "doc_id",
        F.expr(
            f"unhex(case doc_id % 4 when 0 then {png} when 1 then {gif} "
            f"when 2 then {jpeg} else {webp} end)"
        ).alias("payload"),
    )


IMAGE_DIMS_SQL = """
SELECT doc_id,
       CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                       WHEN 2 THEN 'jpeg' ELSE 'webp' END AS format,
       CAST(100 + doc_id % 1000 AS INTEGER) AS width,
       CAST(50 + doc_id % 700 AS INTEGER) AS height
FROM documents ORDER BY doc_id
"""


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ts_ms", T.LongType()),
        T.StructField("n_frame_bytes", T.LongType()),
        T.StructField("frame_digest", T.StringType()),
    ]
)


def sample_frames(payloads: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video frame-sampling PLUMBING: one payload row in → ``n_frames``
    frame rows out, the batch-shape-changing Arrow stage a real codec
    sampler has (pyav/ffmpeg are not in this runtime, so the "frame"
    is a deterministic fixed-stride byte slice — the stand-in is
    documented, the mapInPandas explode shape, schema and partition
    flow are the real thing).

    ``frame_digest`` is md5 over the frame's UPPERCASE HEX form — hex
    is ASCII, which keeps the digest byte-true AND mirrorable by a
    VARCHAR-only SQL md5 (DuckDB has no blob substring/md5); NULL
    payloads sample as b'' (all-empty frames), matching
    ``extract_features``.

    100-TB shape: payload bytes stay columnar in Arrow; only (ids,
    offsets, digests) leave the stage; no shuffle."""
    import pandas as pd

    from ..udfs import release_launch_zip_finders

    if n_frames < 1:
        raise ValueError("sample_frames: n_frames must be >= 1")

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        try:
            for pdf in batches:
                out = []
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                    b = bytes(payload) if payload is not None else b""
                    n = len(b)
                    for i in range(n_frames):
                        start = (i * n) // n_frames
                        end = ((i + 1) * n) // n_frames
                        frame = b[start:end]
                        digest = hashlib.md5(
                            frame.hex().upper().encode()
                        ).hexdigest()
                        out.append(
                            (int(doc_id), i, i * 1000, end - start, digest)
                        )
                yield pd.DataFrame(
                    out,
                    columns=[
                        "doc_id", "frame_idx", "frame_ts_ms",
                        "n_frame_bytes", "frame_digest",
                    ],
                )
        finally:
            release_launch_zip_finders()

    from ..pipeline import parallelize_small_input

    return parallelize_small_input(
        payloads.select("doc_id", "payload")
    ).mapInPandas(fn, FRAME_SCHEMA)


def sample_frames_sql(n_frames: int = 4) -> str:
    """DuckDB mirror: hex the payload once, slice CHARACTERS (2 hex
    chars per byte — ASCII, so VARCHAR substring is byte-exact), md5
    the slice."""
    return f"""
WITH t AS (
  SELECT doc_id, hex(encode(coalesce(text, ''))) AS hx,
         octet_length(encode(coalesce(text, ''))) AS n
  FROM documents),
 f AS (
  SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
         CAST(i * 1000 AS BIGINT) AS frame_ts_ms,
         ((i + 1) * n) // {n_frames} - (i * n) // {n_frames} AS flen,
         (i * n) // {n_frames} AS fstart, hx
  FROM t, (SELECT unnest(range({n_frames})) AS i))
SELECT doc_id, frame_idx, frame_ts_ms,
       CAST(flen AS BIGINT) AS n_frame_bytes,
       md5(substring(hx, CAST(2 * fstart + 1 AS BIGINT), CAST(2 * flen AS BIGINT)))
         AS frame_digest
FROM f ORDER BY doc_id, frame_idx
"""
