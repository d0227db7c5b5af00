"""Multimodal-column plumbing (north-star extension).

Pattern for 100 TB multimodal pipelines: media lives as opaque ``binary``
columns with typed metadata alongside; decode / feature-extraction runs as
Arrow-batched Pandas functions (``mapInPandas``) so bytes cross the
Python boundary in columnar batches, never row-at-a-time.

The driver tables carry no real media, so the binary column is
synthesized deterministically (UTF-8 payload of the document text, see
:func:`_with_payload`). REAL here: the Spark-side plumbing (binary
column handling, metadata projection, mapInPandas batch signature,
schema/partition behavior). The thirteen public-format codecs that
encode this payload into real media and decode it back (PPM, PNG, WAV,
JPEG, ... and the archive containers) are rows of the codec table in
operators/codecs.py, which shares ``_with_payload`` and the oracle
byte helpers below.

- multimodal_meta     — metadata projection over the binary column
                        (size, sha256 digest, synthetic format tag).
- payload_byte_stats  — per-doc byte statistics computed in Python over
                        the raw bytes via mapInPandas (the decode-shaped
                        hot path, Arrow-batched); exact DuckDB oracle
                        since the payload is deterministic.
- frame_sample        — evenly spaced byte windows per payload, one
                        digest row per frame.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.tables import load_table, spread_scan

FORMATS = ("jpeg", "png", "webp")


# Oracle helper shared by every byte-level oracle (here and in
# operators/codecs.py): byte j (a 1-based SQL position expression) of
# the hex()-encoded UTF-8 blob `h`. One site for the two-hex-digit
# strpos decode — review-found: the pattern used to be copy-pasted
# across every oracle string.
def hex_byte_sql(j: str) -> str:
    """1-based byte at position `j` of hex column h, as an integer."""
    return (
        f"(strpos('0123456789ABCDEF', h[2*({j})-1 : 2*({j})-1]) - 1) * 16"
        f" + (strpos('0123456789ABCDEF', h[2*({j}) : 2*({j})]) - 1)"
    )


def _with_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) for every codec/container kernel.

    spread_scan (guide §2.5, input skew): documents.parquet at test
    scale is ONE file with one row group = one input split, so without
    the repartition every mapInPandas encode/decode kernel downstream —
    the most CPU-expensive Python in the repo — ran on a single core
    (measured: decode_image_gif 2.3 s wall for ~1.4 s of kernel CPU
    that 32 cores should absorb). Every kernel is strictly per-row
    (each doc encodes to its own container/image/stream), so the
    round-robin split cannot change any result; at production scale
    the scan has thousands of splits and spread_scan is a no-op."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    return docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary column — pure JVM projection;
    at scale this is the cheap pass that routes media to decoders."""
    df = _with_payload(spark, sf_dir)
    fmt_idx = (
        F.conv(F.substring(F.sha2(F.col("payload"), 256), 1, 8), 16, 10)
        .cast("long")
        % len(FORMATS)
    )
    fmt = (
        F.when(fmt_idx == 0, FORMATS[0])
        .when(fmt_idx == 1, FORMATS[1])
        .otherwise(FORMATS[2])
    )
    return df.select(
        "doc_id",
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("sha256"),
        fmt.alias("format"),
    )


MULTIMODAL_META_SQL = """
SELECT doc_id,
       octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS sha256,
       CASE (('0x' || substr(sha256(text), 1, 8))::BIGINT % 3)
            WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format
FROM documents
"""


def payload_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte statistics computed Python-side over binary payloads.

    This is the decode-shaped path: mapInPandas receives Arrow record
    batches, the UDF touches raw bytes (stand-in for pixel/sample
    decoding), and emits a typed frame. Integer sums keep it exact.
    """
    df = _with_payload(spark, sf_dir)

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads = pdf["payload"]
            # One np.frombuffer view per payload (zero-copy) and a single
            # concatenated reduction — vectorized, no per-byte Python.
            views = [np.frombuffer(b, dtype=np.uint8) for b in payloads]
            lens = np.fromiter((v.size for v in views), dtype=np.int64, count=len(views))
            if views:
                flat = np.concatenate(views) if lens.sum() else np.empty(0, np.uint8)
                ends = np.cumsum(lens)
                starts = ends - lens
                csum = np.concatenate(([0], np.cumsum(flat, dtype=np.int64)))
                tot = csum[ends] - csum[starts]
                mx = np.array(
                    [int(views[i].max()) if lens[i] else 0 for i in range(len(views))],
                    dtype=np.int64,
                )
            else:
                tot = mx = np.empty(0, dtype=np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": lens,
                    "sum_bytes": tot,
                    "max_byte": mx,
                }
            )

    out = df.mapInPandas(
        stats, "doc_id long, n_bytes long, sum_bytes long, max_byte long"
    )
    return out.withColumn(
        "mean_byte",
        F.round(
            F.when(F.col("n_bytes") == 0, F.lit(0.0)).otherwise(
                F.col("sum_bytes") / F.col("n_bytes")
            ),
            6,
        ),
    )


# True BYTE stats in the oracle: hex() of the UTF-8 blob, two hex
# digits per byte, decoded via strpos — the old substr/ascii character
# form diverged on non-ASCII text AND on empty docs (string_split('','')
# is [''] in DuckDB → n_bytes=1 where Spark sees 0 bytes; review-found).
PAYLOAD_BYTE_STATS_SQL = f"""
WITH codes AS (
    SELECT doc_id, hex(encode(text)) AS h FROM documents
),
bl AS (
    SELECT doc_id,
           [ {hex_byte_sql("i")}
             for i in range(1, length(h) // 2 + 1) ] AS cs
    FROM codes
),
s AS (
    SELECT doc_id,
           len(cs)::BIGINT AS n_bytes,
           CAST(coalesce(list_sum(cs), 0) AS BIGINT) AS sum_bytes,
           CAST(coalesce(list_max(cs), 0) AS BIGINT) AS max_byte
    FROM bl
)
SELECT doc_id, n_bytes, sum_bytes, max_byte,
       ROUND(CASE WHEN n_bytes = 0 THEN 0.0
                  ELSE sum_bytes * 1.0 / n_bytes END, 6) AS mean_byte
FROM s
"""


IMG_SIDE = 8  # resize stage: first 64 payload bytes as an 8x8 gray image
IMG_PIXELS = IMG_SIDE * IMG_SIDE
EDGE_THRESHOLD = 16


# Oracle byte extraction for the resize stage: the Spark path reads the
# first 64 BYTES of the UTF-8 payload (np.frombuffer), so the oracle
# must index bytes, not characters — substr/ascii would diverge on any
# non-ASCII code point (review-found, latent on the ASCII driver
# corpus). hex() of the encoded blob gives two hex digits per byte;
# strpos decodes them.
def _byte_sql(i: int) -> str:
    """1-based byte i of the hex-encoded payload as a BIGINT (0 if past
    the end)."""
    return (
        f"CASE WHEN length(h) >= {2 * i}"
        f" THEN CAST({hex_byte_sql(str(i))} AS BIGINT) ELSE 0 END"
    )


_PX_CTE = f"""
codes AS (
    SELECT doc_id, hex(encode(text)) AS h FROM documents
),
px AS (
    SELECT doc_id,
           [{", ".join(_byte_sql(i) for i in range(1, IMG_PIXELS + 1))}] AS p
    FROM codes
)"""


RESIZE_FACTOR = 4  # 8x8 -> 2x2 via 4x4 integer block means
RESIZE_SIDE = IMG_SIDE // RESIZE_FACTOR


def resize_image_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, q00, q01, q10, q11): the fake 8×8 image downsampled to
    2×2 by exact integer 4×4 block means — the RESIZE stage of the
    multimodal pipeline, same Arrow-batch numpy path as
    ``decode_image_ppm`` (swap the block-mean for cv2/PIL thumbnailing
    and the plumbing is unchanged). Block means are floor divisions of
    16-pixel integer sums, so the oracle replays them exactly.
    """
    df = _with_payload(spark, sf_dir)

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            img = np.zeros((n, IMG_PIXELS), dtype=np.int64)
            for i, b in enumerate(pdf["payload"]):
                v = np.frombuffer(b[:IMG_PIXELS], dtype=np.uint8)
                img[i, : v.size] = v
            blocks = (
                img.reshape(n, RESIZE_SIDE, RESIZE_FACTOR, RESIZE_SIDE, RESIZE_FACTOR)
                .sum(axis=(2, 4))
                // (RESIZE_FACTOR * RESIZE_FACTOR)
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "q00": blocks[:, 0, 0],
                    "q01": blocks[:, 0, 1],
                    "q10": blocks[:, 1, 0],
                    "q11": blocks[:, 1, 1],
                }
            )

    return df.mapInPandas(
        resize, "doc_id long, q00 long, q01 long, q10 long, q11 long"
    )


def _resize_block_sql(br: int, bc: int) -> str:
    """Sum of the (br, bc) 4x4 block over the 1-based 64-pixel list."""
    idx = [
        (br * RESIZE_FACTOR + r) * IMG_SIDE + (bc * RESIZE_FACTOR + c) + 1
        for r in range(RESIZE_FACTOR)
        for c in range(RESIZE_FACTOR)
    ]
    total = " + ".join(f"p[{i}]" for i in idx)
    return f"CAST(({total}) // {RESIZE_FACTOR * RESIZE_FACTOR} AS BIGINT)"


RESIZE_IMAGE_FAKE_SQL = f"""
WITH {_PX_CTE}
SELECT doc_id,
       {_resize_block_sql(0, 0)} AS q00,
       {_resize_block_sql(0, 1)} AS q01,
       {_resize_block_sql(1, 0)} AS q10,
       {_resize_block_sql(1, 1)} AS q11
FROM px
"""


N_FRAMES = 3
FRAME_BYTES = 32


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: N evenly-spaced fixed-width byte windows
    per payload ("frames"), digested per frame.

    This is the video/audio frame-sampling shape — seek offsets computed
    from media length, a decoder invoked per window — with the decoder
    replaced by a digest (container has no codecs). The mapInPandas UDF
    does real byte slicing Python-side; one output row per frame.
    """
    import hashlib

    df = _with_payload(spark, sf_dir)

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids, frame_idx, offsets, digests = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n = len(b)
                for i in range(N_FRAMES):
                    # evenly spaced, clamped so the window stays in-bounds
                    off = 0 if n <= FRAME_BYTES else (i * (n - FRAME_BYTES)) // (N_FRAMES - 1)
                    frame = b[off : off + FRAME_BYTES]
                    doc_ids.append(doc_id)
                    frame_idx.append(i)
                    offsets.append(off)
                    digests.append(hashlib.sha256(frame).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "frame_idx": pd.Series(frame_idx, dtype="int64"),
                    "offset": pd.Series(offsets, dtype="int64"),
                    "frame_sha256": digests,
                }
            )

    return df.mapInPandas(
        sample, "doc_id long, frame_idx long, offset long, frame_sha256 string"
    )


# ASCII text ⇒ byte slicing == character slicing, so DuckDB can compute
# the same frames with substr (1-based).
FRAME_SAMPLE_SQL = f"""
WITH f AS (
    SELECT doc_id, length(text)::BIGINT AS n, unnest(generate_series(0, {N_FRAMES - 1})) AS frame_idx
    FROM documents
),
w AS (
    SELECT doc_id, frame_idx,
           CASE WHEN n <= {FRAME_BYTES} THEN 0
                ELSE (frame_idx * (n - {FRAME_BYTES})) // {N_FRAMES - 1}
           END AS "offset"
    FROM f
)
SELECT w.doc_id, frame_idx, "offset",
       sha256(substr(text, ("offset" + 1)::INTEGER, {FRAME_BYTES})) AS frame_sha256
FROM w JOIN documents d ON w.doc_id = d.doc_id
"""


QUERIES: dict[str, Query] = {
    "multimodal_meta": Query(
        multimodal_meta, MULTIMODAL_META_SQL, "binary column metadata projection"
    ),
    "frame_sample": Query(
        frame_sample,
        FRAME_SAMPLE_SQL,
        "evenly-spaced frame sampling over binary payloads (mapInPandas)",
    ),
    "payload_byte_stats": Query(
        payload_byte_stats,
        PAYLOAD_BYTE_STATS_SQL,
        "Arrow-batched mapInPandas byte stats over binary payloads",
    ),
}
