"""Multimodal columns: opaque binary payloads + typed metadata (SURVEY §2.N).

Pattern: image/audio/video live as ``binary`` columns with a metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages. The decode libraries (PIL/ffmpeg/...) are NOT in this
container, so the decode kernel is stubbed behind ``MediaDecodeUnavailable`` /
a deterministic fake — the Spark-side plumbing (schema, batch shape,
partitioning) is real and tested (tests/test_multimodal.py).

Scale posture: binary payloads ride parquet pages; metadata-only queries never
touch the blob column (column pruning); decode stages are sized by
``spark.sql.files.maxPartitionBytes`` so an Arrow batch of blobs fits executor
memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.queries import query

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("blob", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("byte_mean", T.DoubleType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


class MediaDecodeUnavailable(NotImplementedError):
    """Raised by the real decode path: image/audio libs absent in this env."""


def decode_image(blob: bytes):  # pragma: no cover - real path needs PIL
    raise MediaDecodeUnavailable(
        "image decode requires PIL/opencv (not in container); "
        "extract_features is the tested deterministic fake path"
    )


def as_media_table(docs: DataFrame) -> DataFrame:
    """Model documents as a media table: utf-8 blob + typed metadata struct."""
    blob = F.to_binary(F.col("text"), F.lit("utf-8"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        blob.alias("blob"),
        F.struct(
            F.lit("text/plain").alias("format"),
            F.octet_length(blob).cast("long").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        ).alias("meta"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over blobs (mapInPandas).

    The kernel is a deterministic fake (byte statistics) so tests can assert
    exact values; a real decode would go through ``decode_image``, which
    raises MediaDecodeUnavailable here.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for blob in pdf["blob"]:
                b = bytes(blob)
                n = len(b)
                mean = float(sum(b) / n) if n else 0.0
                feats.append(
                    {
                        "n_bytes": n,
                        "byte_mean": mean,
                        "feature": [float(n % 256), mean, float(b[0]) if n else 0.0],
                    }
                )
            out = pd.DataFrame(feats)
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return media.mapInPandas(kernel, FEATURE_SCHEMA)


@query(
    "multimodal_metadata",
    section="2.N-mm",
    doc="Metadata-only scan of the media table: blob sizes per format WITHOUT reading "
    "blobs into Python (column pruning keeps the binary column out of the scan "
    "for the byte-size stats — they live in the metadata struct).",
    oracle="""
        SELECT 'text/plain' AS format, COUNT(*) AS n_media,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
        FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = as_media_table(load(spark, sf_dir, "documents"))
    return media.groupBy(F.col("meta.format").alias("format")).agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("meta.n_bytes").alias("total_bytes"),
        F.max("meta.n_bytes").alias("max_bytes"),
    )


@query(
    "multimodal_features",
    section="2.N-mm",
    doc="Arrow-batched blob feature extraction (mapInPandas, deterministic fake "
    "kernel): per-media byte stats — the real decode swaps in behind the same "
    "schema/batch shape.",
    oracle="""
        -- fixture text is pure ASCII, so byte values == ascii codes
        SELECT doc_id AS media_id,
               octet_length(encode(text)) AS n_bytes,
               ROUND(list_aggregate(list_transform(generate_series(1, length(text)),
                     i -> ascii(substr(text, i, 1))), 'sum') * 1.0 / length(text), 4)
                   AS byte_mean
        FROM documents WHERE doc_id < 100
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = as_media_table(load(spark, sf_dir, "documents")).filter(F.col("media_id") < 100)
    feats = extract_features(media)
    return feats.select("media_id", "n_bytes", F.round("byte_mean", 4).alias("byte_mean"))


def frame_sample(media: DataFrame, frame_bytes: int = 64, every: int = 3) -> DataFrame:
    """Frame sampling over opaque media blobs (the video frame-sample stage):
    the blob is windowed into fixed-size frames and every ``every``-th frame
    is kept — (media_id, frame_idx, n_bytes, checksum) out. Arrow-batched
    ``mapInPandas``; with ffmpeg present the same kernel shape decodes real
    frames behind an identical schema. Deterministic byte-window fake =
    exact-oracle testable."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_idx", T.LongType(), False),
            T.StructField("n_bytes", T.LongType(), True),
            T.StructField("checksum", T.LongType(), True),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                b = bytes(blob)
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, every):
                    fr = b[i * frame_bytes : (i + 1) * frame_bytes]
                    rows.append((int(mid), i, len(fr), int(sum(fr))))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "n_bytes", "checksum"])

    return media.mapInPandas(kernel, out_schema)


def resize_bytes(media: DataFrame, stride: int = 4) -> DataFrame:
    """Nearest-neighbor 'resize' in byte space: keep every ``stride``-th byte
    of the blob (1-D stand-in for image downsampling; PIL swaps in behind the
    same signature). Returns the resized blob + its metadata."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("blob", T.BinaryType(), True),
            T.StructField("n_bytes", T.LongType(), True),
            T.StructField("checksum", T.LongType(), True),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                small = bytes(blob)[::stride]
                rows.append((int(mid), small, len(small), int(sum(small))))
            yield pd.DataFrame(rows, columns=["media_id", "blob", "n_bytes", "checksum"])

    return media.mapInPandas(kernel, out_schema)


@query(
    "multimodal_frame_sample",
    section="2.N-mm",
    doc="Frame sampling (video frame-sample stage shape): 64-byte frames, "
    "every 3rd kept; per-frame byte checksum. The Arrow-batched kernel is the "
    "real plumbing; DuckDB reproduces it with substring windows over the "
    "encoded text, so any frame-boundary or sampling defect breaks the hash.",
    oracle="""
        -- windows the utf-8 BYTES (hex-pair arithmetic), exactly like the
        -- kernel — char-based substr would diverge on any multibyte text
        WITH b AS (
            SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS nb
            FROM documents WHERE doc_id < 50
        ),
        frames AS (
            SELECT media_id, hx, nb,
                   UNNEST(list_filter(generate_series(0,
                        CAST(CEIL(nb / 64.0) AS BIGINT) - 1),
                        i -> i % 3 = 0)) AS frame_idx
            FROM b
        )
        SELECT media_id, frame_idx,
               CAST(LEAST(64, nb - frame_idx * 64) AS BIGINT) AS n_bytes,
               CAST(list_aggregate(list_transform(
                        generate_series(1, LEAST(64, nb - frame_idx * 64)),
                        i -> CAST(('0x' || substr(hx, (frame_idx * 64 + i - 1) * 2 + 1, 2)) AS BIGINT)),
                    'sum') AS BIGINT) AS checksum
        FROM frames
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = as_media_table(load(spark, sf_dir, "documents")).filter(F.col("media_id") < 50)
    return frame_sample(media, frame_bytes=64, every=3)


PH_BITS = 32   # aHash width
PH_BANDS = 4   # 8-bit bands; hamming <= PH_HAM pairs MUST share a band
PH_HAM = 3     # pigeonhole: 3 differing bits cannot touch all 4 bands

_PH_SPARK = (
    "aggregate(transform(sequence(0, 31), i -> CASE WHEN "
    "aggregate(slice(codes, i*w+1, w), CAST(0 AS BIGINT), (a, x) -> a + x) * n "
    "> tot * greatest(0, least(w, n - i*w)) "
    "THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END), "
    "CAST(0 AS BIGINT), (a, x) -> a + x)"
)


@query(
    "phash_banded_neardup",
    section="2.N-mm",
    doc="Perceptual-hash near-duplicate detection over the media table — the "
    "image-dedup pipeline stage, run on the opaque byte stream since real "
    "decode is env-blocked (with PIL the SAME expressions run over pixel "
    f"luma): a {PH_BITS}-bit average-hash (bit i = stripe-i byte sum * n > "
    "total sum * stripe length — exact integer cross-multiplication, no "
    "division) is banded into four 8-bit keys, candidates share a band "
    f"(PIGEONHOLE-sound for hamming <= {PH_HAM}: 3 differing bits cannot "
    "touch all 4 bands), and candidates are verified with "
    "bit_count(xor). The hash builds entirely in whole-stage codegen "
    "(transform/aggregate over the char array — no Python), and the "
    "banded equi-join bounds the candidate space exactly like MinHash "
    "banding does for Jaccard.",
    oracle=f"""
        WITH c AS (
            SELECT doc_id AS media_id,
                   list_transform(string_split(text, ''), ch -> ascii(ch))
                       AS codes,
                   length(text) AS n
            FROM documents
        ),
        hh AS (
            SELECT media_id, n, (n + 31) // 32 AS w,
                   list_aggregate(codes, 'sum') AS tot, codes
            FROM c
        ),
        ph AS (
            SELECT media_id,
                   list_aggregate(list_transform(generate_series(0, 31), i ->
                       CASE WHEN COALESCE(list_aggregate(
                                     codes[i*w+1 : least((i+1)*w, n)], 'sum'),
                                 0) * n
                                 > tot * greatest(0, least(w, n - i*w))
                            THEN (CAST(1 AS BIGINT) << i) ELSE 0 END),
                       'sum') AS ph
            FROM hh
        ),
        bands AS (
            SELECT media_id, ph, j, (ph // (CAST(1 AS BIGINT) << (8 * j))) % 256
                       AS band
            FROM ph, UNNEST([0, 1, 2, 3]) AS t(j)
        ),
        cand AS (
            SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
                   a.ph AS ph_a, b.ph AS ph_b
            FROM bands a JOIN bands b
              ON a.j = b.j AND a.band = b.band AND a.media_id < b.media_id
        )
        SELECT media_a, media_b,
               CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(ph_a, ph_b)) <= {PH_HAM}
    """,
)
def phash_banded_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    c = docs.select(
        F.col("doc_id").alias("media_id"),
        F.expr("transform(split(text, ''), ch -> ascii(ch))").alias("codes"),
        F.length("text").alias("n"),
    )
    hh = c.select(
        "media_id", "codes", "n",
        F.expr("(n + 31) div 32").alias("w"),
        F.expr(
            "aggregate(codes, CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("tot"),
    )
    ph = hh.select("media_id", F.expr(_PH_SPARK).alias("ph"))
    bands = ph.select(
        "media_id", "ph",
        F.explode(F.expr("sequence(0, 3)")).alias("j"),
    ).withColumn(
        "band", F.expr("(ph DIV shiftleft(CAST(1 AS BIGINT), 8 * j)) % 256")
    )
    a = bands.select(
        F.col("media_id").alias("media_a"), F.col("ph").alias("ph_a"), "j", "band"
    )
    b = bands.select(
        F.col("media_id").alias("media_b"), F.col("ph").alias("ph_b"), "j", "band"
    )
    cand = (
        a.join(b, ["j", "band"])
        .filter(F.col("media_a") < F.col("media_b"))
        .select("media_a", "media_b", "ph_a", "ph_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= PH_HAM)
        .select("media_a", "media_b", "hamming")
    )


@query(
    "multimodal_resize_stats",
    section="2.N-mm",
    doc="Byte-space 'resize' (nearest-neighbor downsample — the image-resize "
    "stage shape; PIL swaps in behind the same mapInPandas signature): "
    "keep every 4th byte, emit the resized length and byte checksum per "
    "media. DuckDB reproduces the strided selection with hex-pair "
    "arithmetic over the encoded bytes, so any stride/offset defect in "
    "the Arrow kernel breaks the hash. Blob column pruned from the "
    "output so the compare is on the deterministic stats.",
    oracle="""
        WITH b AS (
            SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS nb
            FROM documents WHERE doc_id < 100
        )
        SELECT media_id,
               CAST(CEIL(nb / 4.0) AS BIGINT) AS n_bytes,
               CAST(list_aggregate(list_transform(
                        generate_series(0, CAST(CEIL(nb / 4.0) AS BIGINT) - 1),
                        j -> CAST(('0x' || substr(hx, j * 8 + 1, 2)) AS BIGINT)),
                    'sum') AS BIGINT) AS checksum
        FROM b
    """,
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = as_media_table(load(spark, sf_dir, "documents")).filter(
        F.col("media_id") < 100
    )
    return resize_bytes(media, stride=4).select("media_id", "n_bytes", "checksum")


# --- REAL image decode: uncompressed PPM (P6), no external libs ------------
#
# The container has no PIL/ffmpeg, so COMPRESSED formats (JPEG/PNG/video)
# stay env-blocked behind MediaDecodeUnavailable. Uncompressed binary PPM
# needs only a header parse + numpy frombuffer, so THIS decode path is real:
# real image bytes in, real pixel grid out, real pixel math after. The
# oracle recomputes the same statistics from the generating parameters, so
# a hash match proves decode ∘ encode = identity end-to-end.

PPM_DOCS = 200          # media rows driven through encode→decode
PPM_MAXVAL = 255


def ppm_dims(media_id):
    """Deterministic tiny dimensions (w, h) per media id (4–8 × 3–6).

    The single Python source of truth for the dimension formula — the
    encode kernel calls this (works on ints and Columns alike); the DuckDB
    oracle necessarily inlines the same `4 + id % 5` / `3 + id % 4` in SQL,
    and tests/test_functions_ml.py pins the two against each other."""
    return (4 + media_id % 5), (3 + media_id % 4)


def encode_ppm(ids: DataFrame) -> DataFrame:
    """(media_id) -> (media_id, blob): REAL binary PPM (P6) images whose
    pixel channels derive from (media_id, row, col) — Arrow-batched, the
    blob leaves the kernel as genuine image-file bytes any PPM reader
    accepts."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("blob", T.BinaryType(), False),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            blobs = []
            for mid in pdf["media_id"]:
                d = int(mid)
                w, h = ppm_dims(d)
                r = np.arange(h).reshape(h, 1)
                c = np.arange(w).reshape(1, w)
                px = np.stack(
                    [
                        (d * 7 + r * 13 + c * 31) % 256,
                        (d * 11 + r * 17 + c * 5) % 256,
                        (d * 3 + r * 29 + c * 23) % 256,
                    ],
                    axis=-1,
                ).astype(np.uint8)
                header = f"P6\n{w} {h}\n{PPM_MAXVAL}\n".encode("ascii")
                blobs.append(header + px.tobytes())
            yield pd.DataFrame({"media_id": pdf["media_id"].values, "blob": blobs})

    return ids.mapInPandas(kernel, schema)


def decode_ppm(blob: bytes):
    """Parse a binary PPM (P6): returns (width, height, ndarray[h, w, 3]).

    A real parser, not a fake: validates the magic, reads the
    whitespace-separated header tokens, checks maxval and payload length.
    Raises ValueError on anything malformed."""
    import numpy as np

    if blob[:2] != b"P6":
        raise ValueError("not a binary PPM (bad magic)")
    # header = magic, width, height, maxval separated by whitespace; the
    # pixel payload starts after the single whitespace byte following maxval
    tokens, i, tok = [], 2, b""
    while len(tokens) < 3 and i < len(blob):
        ch = blob[i : i + 1]
        if ch.isspace():
            if tok:
                tokens.append(tok)
                tok = b""
            i += 1
            if len(tokens) == 3:
                break
        else:
            tok += ch
            i += 1
    if len(tokens) < 3:
        raise ValueError("truncated PPM header")
    w, h, maxval = (int(t) for t in tokens)
    if maxval != PPM_MAXVAL:
        raise ValueError(f"unsupported maxval {maxval}")
    payload = blob[i:]
    if len(payload) != w * h * 3:
        raise ValueError(
            f"payload is {len(payload)} bytes, expected {w * h * 3}"
        )
    return w, h, np.frombuffer(payload, dtype=np.uint8).reshape(h, w, 3)


def decode_ppm_stats(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode: blob -> pixel grid -> exact integer pixel
    statistics (ITU-R 601 luma in integer thousandths; strided R-channel
    sample). The kernel sees ONLY the blob — dimensions come from the
    parsed header, so a stats match against the generator-side oracle
    proves the full decode path."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("width", T.LongType(), False),
            T.StructField("height", T.LongType(), False),
            T.StructField("luma_sum", T.LongType(), False),
            T.StructField("strided_r_sum", T.LongType(), False),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                w, h, px = decode_ppm(bytes(blob))
                p = px.astype("int64")
                luma = int(
                    (299 * p[:, :, 0] + 587 * p[:, :, 1] + 114 * p[:, :, 2]).sum()
                )
                strided = int(p[0::2, 0::2, 0].sum())
                rows.append((int(mid), w, h, luma, strided))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "luma_sum", "strided_r_sum"]
            )

    return media.mapInPandas(kernel, schema)


@query(
    "ppm_decode_pixel_stats",
    section="2.N-mm",
    doc="REAL image decode, end-to-end: documents drive an Arrow-batched "
    f"encoder that emits genuine binary PPM (P6) files ({PPM_DOCS} images, "
    "4-8 × 3-6 px, channels deterministic in (id, row, col)); a SEPARATE "
    "Arrow-batched decoder parses the header (magic/dims/maxval/payload "
    "validation) and reconstructs the pixel grid with numpy, then computes "
    "exact integer pixel statistics. The DuckDB oracle recomputes the same "
    "statistics from the generating parameters WITHOUT the bytes, so the "
    "hash match proves decode ∘ encode = identity. Compressed formats "
    "(JPEG/PNG/video) remain env-blocked behind the same mapInPandas seam "
    "(MediaDecodeUnavailable) — this closes the uncompressed half for real.",
    oracle=f"""
        WITH m AS (
            SELECT doc_id AS media_id,
                   4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
            FROM documents WHERE doc_id < {PPM_DOCS}
        ),
        px AS (
            SELECT m.media_id, m.w, m.h, r.range AS r, c.range AS c,
                   (m.media_id * 7 + r.range * 13 + c.range * 31) % 256 AS red,
                   (m.media_id * 11 + r.range * 17 + c.range * 5) % 256 AS grn,
                   (m.media_id * 3 + r.range * 29 + c.range * 23) % 256 AS blu
            FROM m, range(0, 6) r, range(0, 8) c
            WHERE r.range < m.h AND c.range < m.w
        )
        SELECT media_id,
               CAST(MAX(w) AS BIGINT) AS width,
               CAST(MAX(h) AS BIGINT) AS height,
               CAST(SUM(299 * red + 587 * grn + 114 * blu) AS BIGINT)
                   AS luma_sum,
               CAST(SUM(CASE WHEN r % 2 = 0 AND c % 2 = 0 THEN red
                             ELSE 0 END) AS BIGINT) AS strided_r_sum
        FROM px
        GROUP BY media_id
    """,
)
def ppm_decode_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < PPM_DOCS
    ).select(F.col("doc_id").alias("media_id"))
    return decode_ppm_stats(encode_ppm(ids))
