"""Multimodal columns: binary payloads + typed metadata (SURVEY.md §2.11).

Images/audio/video are opaque ``binary`` columns with a typed metadata
struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` kernels. Compressed codecs (JPEG/ffmpeg)
are not in this container, so the REAL codec implemented here is the
uncompressed binary PPM (P6) format — ASCII header parse + numpy pixel
math, a genuine bytes->pixels decode — reachable from ``decode_frames``
/ ``resize_images`` via ``real_codecs=True`` and oracle-checked end to
end through ``mm_decode``. The deterministic fakes remain beside it for
the payloads that would need external libraries.

100 TB path: payloads stay in columnar storage next to their metadata;
filters on the metadata struct (mime, size) push down so decode only
ever sees the selected rows; ``mapInPandas`` processes Arrow batches so
the Python boundary is crossed per-batch, not per-row; partition sizing
caps the bytes a single Python worker holds.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import sql, table
from ..registry import spec

FRAME_SCHEMA = (
    "doc_id long, frame_idx int, height int, width int, mean_px double"
)

# ---------------------------------------------------------------------------
# Real codec: binary PPM (P6) — ASCII header + raw RGB bytes. The one
# raster format decodable with stdlib+numpy alone, which makes the
# decode path REAL (bytes -> header parse -> pixel array -> stats)
# while staying oracle-checkable: pixel bytes are the document text
# repeated to fill width*height*3 (ASCII corpus, so byte == char and
# DuckDB can recompute every statistic from the same text).
# ---------------------------------------------------------------------------

PPM_MAXVAL = 255


def _ppm_parse(b: bytes):
    """Parse a binary PPM (P6): returns (width, height, maxval, pixels).

    Raises ValueError on any malformed input — unknown magic, truncated
    pixel section — the contract a real codec has. Header is the strict
    writer's form ``P6\\n<w> <h>\\n<maxval>\\n``; maxsplit=3 keeps pixel
    bytes intact even if they contain newlines.
    """
    import numpy as np

    if b[:2] != b"P6":
        raise ValueError(f"unsupported codec magic {b[:2]!r}")
    try:
        _, dims, maxval_s, px_bytes = b.split(b"\n", 3)
        w, h = (int(x) for x in dims.split())
        maxval = int(maxval_s)
    except Exception as e:
        raise ValueError(f"malformed PPM header: {e}") from e
    px = np.frombuffer(px_bytes, dtype=np.uint8)
    if px.size != w * h * 3:
        raise ValueError(
            f"truncated PPM: expected {w * h * 3} pixel bytes, got {px.size}"
        )
    return w, h, maxval, px


def with_ppm_payload(docs: DataFrame) -> DataFrame:
    """Encode each document as a REAL binary PPM image, JVM-side.

    Dims vary with doc_id (12 distinct shapes, 8x6 .. 20x10) so the
    decoder's header parse is exercised, not pattern-matched; pixel
    bytes are the text repeated/truncated to exactly w*h*3 bytes. All
    string ops are codegen'd builtins — no Python until the decoder.
    """
    d = docs.select(
        "doc_id",
        "text",
        (F.lit(8) + (F.col("doc_id") % 4) * 4).cast("int").alias("w"),
        (F.lit(6) + (F.col("doc_id") % 3) * 2).cast("int").alias("h"),
    ).withColumn("n_px", (F.col("w") * F.col("h") * 3).cast("int"))
    header = F.concat(
        F.lit("P6\n"),
        F.col("w").cast("string"),
        F.lit(" "),
        F.col("h").cast("string"),
        F.lit(f"\n{PPM_MAXVAL}\n"),
    )
    pix = F.expr(
        "substring(repeat(text, cast(ceil(cast(n_px as double) / length(text))"
        " as int)), 1, n_px)"
    )
    return d.select(
        "doc_id",
        F.encode(F.concat(header, pix), "utf-8").alias("payload"),
    )


PPM_STATS_SCHEMA = (
    "doc_id long, width int, height int, maxval int, n_px long, "
    "sum_px long, mean_px double, min_px int, max_px int"
)


def decode_ppm_stats(payloads: DataFrame) -> DataFrame:
    """REAL decode: parse every PPM payload and reduce its pixel array
    to exact statistics, inside one Arrow-batched mapInPandas pass.

    sum over uint8 accumulates in int64 (exact), and mean is the single
    IEEE division sum/n — bit-identical to the oracle's
    CAST(SUM AS DOUBLE)/n_px, which is what makes a Python-kernel
    decoder hash-checkable.

    100 TB: map-only (no shuffle); payload bytes cross into Python once
    per Arrow batch; output is 9 narrow columns regardless of image
    size.
    """
    import numpy as np

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, maxval, px = _ppm_parse(bytes(payload))
                s = int(px.sum(dtype=np.int64))
                rows.append(
                    (
                        doc_id,
                        w,
                        h,
                        maxval,
                        px.size,
                        s,
                        s / px.size,
                        int(px.min()),
                        int(px.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "maxval", "n_px",
                    "sum_px", "mean_px", "min_px", "max_px",
                ],
            )

    return payloads.mapInPandas(decode, PPM_STATS_SCHEMA)


def mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode documents as real PPM images and decode them back
    (oracle-checked end to end — closes the codec gap that kept
    mm_decode rows-only through r5)."""
    docs = table(spark, sf_dir, "documents")
    return decode_ppm_stats(with_ppm_payload(docs))


ORACLE_MM_DECODE = f"""
WITH p AS (
  SELECT doc_id,
    CAST(8 + (doc_id % 4) * 4 AS INTEGER) AS width,
    CAST(6 + (doc_id % 3) * 2 AS INTEGER) AS height,
    text
  FROM documents
),
px AS (
  SELECT doc_id, width, height,
    CAST(width * height * 3 AS BIGINT) AS n_px,
    substring(
      repeat(text, CAST(CEIL(CAST(width * height * 3 AS DOUBLE)
                             / length(text)) AS INTEGER)),
      1, width * height * 3) AS pix
  FROM p
),
c AS (
  SELECT doc_id, width, height, n_px,
         unicode(ch) AS v
  FROM px, UNNEST(regexp_extract_all(pix, '.')) AS u(ch)
)
SELECT doc_id, width, height, {PPM_MAXVAL} AS maxval, n_px,
  CAST(SUM(v) AS BIGINT) AS sum_px,
  CAST(SUM(v) AS DOUBLE) / n_px AS mean_px,
  CAST(MIN(v) AS INTEGER) AS min_px,
  CAST(MAX(v) AS INTEGER) AS max_px
FROM c
GROUP BY doc_id, width, height, n_px
"""


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach a binary payload + typed metadata struct to each document.

    In production the payload is the raw image/audio bytes; here it is
    the utf-8 text bytes (deterministic stand-in with realistic sizes).
    """
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.element_at(
                F.array(F.lit("image/jpeg"), F.lit("image/png"), F.lit("audio/wav")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ).alias("mime"),
            (F.lit(640) + (F.col("doc_id") % 4) * 160).cast("int").alias("width"),
            (F.lit(360) + (F.col("doc_id") % 4) * 90).cast("int").alias("height"),
        ).alias("meta"),
    )


def decode_frames(
    payloads: DataFrame, n_frames: int = 2, real_codecs: bool = False
) -> DataFrame:
    """Frame-sample 'decode': one row per (doc, frame).

    ``real_codecs=True`` decodes binary PPM payloads (_ppm_parse): the
    image's pixel rows are split into n_frames horizontal bands and
    each band reduced to its exact mean — a real bytes->pixels->stats
    pass. Non-PPM payloads raise ValueError (compressed codecs need
    PIL/ffmpeg, absent in this container). The fake path keeps the
    deterministic per-frame stats so tests exercise the Arrow round
    trip and the 1->N fan-out shape on arbitrary payloads.
    """
    import numpy as np

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if real_codecs:
            for pdf in batches:
                out = []
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                    w, h, _maxval, px = _ppm_parse(bytes(payload))
                    for f_idx, band in enumerate(
                        np.array_split(px.reshape(h, w * 3), n_frames)
                    ):
                        out.append(
                            (
                                doc_id,
                                f_idx,
                                int(band.shape[0]),
                                w,
                                float(
                                    int(band.sum(dtype=np.int64)) / band.size
                                ) if band.size else 0.0,
                            )
                        )
                yield pd.DataFrame(
                    out,
                    columns=[
                        "doc_id", "frame_idx", "height", "width", "mean_px",
                    ],
                )
            return
        for pdf in batches:
            out = []
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["payload"], pdf["meta"]
            ):
                size = len(payload)
                for f_idx in range(n_frames):
                    out.append(
                        (
                            doc_id,
                            f_idx,
                            int(meta["height"]),
                            int(meta["width"]),
                            # deterministic fake "mean pixel": payload
                            # checksum scaled into [0, 255)
                            float((sum(payload[:64]) + f_idx * 17) % 255),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "frame_idx", "height", "width", "mean_px"],
            )

    return payloads.mapInPandas(decode, FRAME_SCHEMA)


RESIZED_SCHEMA = (
    "doc_id long, mime string, out_w int, out_h int, n_bytes_in long, "
    "scale double"
)


def resize_images(
    payloads: DataFrame, out_w: int = 224, out_h: int = 224,
    real_codecs: bool = False,
) -> DataFrame:
    """Resize 'kernel': 1->1 mapInPandas over binary payloads.

    ``real_codecs=True`` decodes binary PPM payloads and performs an
    actual nearest-neighbor resample to (out_w, out_h) via numpy index
    arithmetic — the decoded dims (not metadata) drive the scale. The
    fake computes the scale factor from the metadata dims so the full
    Arrow round trip, schema contract, and batch shape stay covered for
    payloads that would need PIL. Unlike decode_frames (1->N fan-out),
    this is the 1->1 kernel shape.
    """
    import numpy as np

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if real_codecs:
            for pdf in batches:
                out = []
                for doc_id, payload, meta in zip(
                    pdf["doc_id"], pdf["payload"], pdf["meta"]
                ):
                    b = bytes(payload)
                    w, h, _maxval, px = _ppm_parse(b)
                    img = px.reshape(h, w, 3)
                    ys = np.minimum(
                        (np.arange(out_h) * h) // out_h, h - 1
                    )
                    xs = np.minimum(
                        (np.arange(out_w) * w) // out_w, w - 1
                    )
                    resized = img[ys[:, None], xs[None, :]]
                    assert resized.shape == (out_h, out_w, 3)
                    out.append(
                        (
                            doc_id,
                            meta["mime"],
                            out_w,
                            out_h,
                            len(b),
                            round(min(out_w / w, out_h / h), 6),
                        )
                    )
                yield pd.DataFrame(
                    out,
                    columns=[
                        "doc_id", "mime", "out_w", "out_h", "n_bytes_in",
                        "scale",
                    ],
                )
            return
        for pdf in batches:
            out = []
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["payload"], pdf["meta"]
            ):
                w, h = int(meta["width"]), int(meta["height"])
                out.append(
                    (
                        doc_id,
                        meta["mime"],
                        out_w,
                        out_h,
                        len(payload),
                        round(min(out_w / w, out_h / h), 6),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "mime", "out_w", "out_h", "n_bytes_in", "scale"
                ],
            )

    return payloads.mapInPandas(resize, RESIZED_SCHEMA)


def mm_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stubbed resize pipeline over image-mime payloads only — the mime
    filter on the metadata struct happens BEFORE the Python boundary, so
    the kernel never sees filtered-out rows (pushdown-then-decode,
    module docstring)."""
    docs = table(spark, sf_dir, "documents")
    imgs = with_binary_payload(docs).filter(
        F.col("meta.mime").startswith("image/")
    )
    return resize_images(imgs)


def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec resize end to end: PPM payloads through the
    real_codecs kernel — header parse, numpy nearest-neighbor resample
    to 224x224, scale from the DECODED dims. Oracle recomputes every
    output (incl. the payload byte count: 9-byte fixed header + the
    variable dim digits + w*h*3 pixels) from the same doc_id formulas.
    """
    docs = table(spark, sf_dir, "documents")
    p = with_ppm_payload(docs).withColumn(
        "meta",
        F.struct(
            F.lit("image/x-portable-pixmap").alias("mime"),
            F.lit(0).alias("width"),   # kernel must use DECODED dims
            F.lit(0).alias("height"),
        ),
    )
    return resize_images(p, real_codecs=True)


ORACLE_MM_RESIZE_REAL = """
WITH p AS (
  SELECT doc_id,
    8 + (doc_id % 4) * 4 AS w,
    6 + (doc_id % 3) * 2 AS h
  FROM documents
)
SELECT
  doc_id,
  'image/x-portable-pixmap' AS mime,
  224 AS out_w,
  224 AS out_h,
  9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
    + w * h * 3 AS n_bytes_in,
  ROUND(LEAST(224.0 / w, 224.0 / h), 6) AS scale
FROM p
"""


ORACLE_MM_RESIZE = """
SELECT
  doc_id,
  ['image/jpeg', 'image/png', 'audio/wav'][CAST(doc_id % 3 AS INTEGER) + 1] AS mime,
  224 AS out_w,
  224 AS out_h,
  octet_length(encode(text)) AS n_bytes_in,
  ROUND(LEAST(224.0 / (640 + (doc_id % 4) * 160),
              224.0 / (360 + (doc_id % 4) * 90)), 6) AS scale
FROM documents
WHERE doc_id % 3 IN (0, 1)
"""


def mm_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked metadata/payload stats (no Python involved): the
    columns ``with_binary_payload`` derives, as one SQL text."""
    return sql(spark, sf_dir, """
SELECT
  doc_id,
  octet_length(encode(text, 'utf-8')) AS n_bytes,
  element_at(array('image/jpeg', 'image/png', 'audio/wav'),
             CAST(doc_id % 3 + 1 AS INT)) AS mime,
  CAST(640 + (doc_id % 4) * 160 AS INT) AS width,
  CAST(360 + (doc_id % 4) * 90 AS INT) AS height
FROM documents
""")


ORACLE_MM_BINARY_STATS = """
SELECT
  doc_id,
  octet_length(encode(text)) AS n_bytes,
  ['image/jpeg', 'image/png', 'audio/wav'][CAST(doc_id % 3 AS INTEGER) + 1] AS mime,
  CAST(640 + (doc_id % 4) * 160 AS INTEGER) AS width,
  CAST(360 + (doc_id % 4) * 90 AS INTEGER)  AS height
FROM documents
"""


#: char-class histogram buckets for the fake feature extractor. ASCII-only
#: classes so pandas (Python re) and DuckDB (RE2) count identically; the
#: documents corpus is pure ASCII (verified per-lang at every sf).
FEATURE_CLASSES = [
    r"[a-e]", r"[f-m]", r"[n-s]", r"[t-z]",
    r"[A-Z]", r"[0-9]", r"[ ]", r"[^a-zA-Z0-9 ]",
]
FEATURE_SCHEMA = "doc_id long, " + ", ".join(
    f"f{i} long" for i in range(len(FEATURE_CLASSES))
)


def extract_features(payloads: DataFrame) -> DataFrame:
    """Feature-extract kernel: binary payload -> fixed-width feature row.

    The production shape: decode the payload (here utf-8 -> text; for
    images this is the pixel decode) and reduce it to a fixed-dim
    feature vector, all inside one Arrow-batched ``mapInPandas`` pass —
    decode+featurize fused so the decoded intermediate never crosses a
    stage boundary. The fake featurizer is a char-class histogram
    (vectorized ``pandas.Series.str.count`` per class), chosen because
    it is ALSO SQL-expressible — which is what lets a DuckDB oracle
    hash-check a Python-kernel operator end to end.
    """
    import re

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            text = pdf["payload"].map(lambda b: bytes(b).decode("utf-8"))
            out = {"doc_id": pdf["doc_id"]}
            for i, cls in enumerate(FEATURE_CLASSES):
                out[f"f{i}"] = text.str.count(re.compile(cls)).astype("int64")
            yield pd.DataFrame(out)

    return payloads.mapInPandas(featurize, FEATURE_SCHEMA)


#: The binary payload the feature extractors read: the documents' utf-8
#: bytes (``with_binary_payload`` without the metadata they never read).
PAYLOADS = "SELECT doc_id, encode(text, 'utf-8') AS payload FROM documents"


def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode+featurize over every payload (oracle-checked)."""
    return extract_features(sql(spark, sf_dir, PAYLOADS))


def extract_features_arrow(payloads: DataFrame) -> DataFrame:
    """The same kernel via ``mapInArrow`` — Arrow-NATIVE, zero pandas.

    Each batch stays a ``pyarrow.RecordBatch``; the regex counting runs
    in Arrow's C++ compute kernels (``count_substring_regex``, RE2 — the
    same regex engine DuckDB uses, which is why the one oracle covers
    both implementations). Against the pandas form this skips the
    Arrow<->pandas conversion and Python-object string handling on both
    edges — the preferred shape when the kernel is expressible in Arrow
    compute; pandas remains for kernels that need numpy/scipy algebra
    (the ANN matmuls).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def featurize(batches):
        for batch in batches:
            text = pc.cast(batch.column("payload"), pa.string())
            cols = {"doc_id": batch.column("doc_id")}
            for i, cls in enumerate(FEATURE_CLASSES):
                cols[f"f{i}"] = pc.cast(
                    pc.count_substring_regex(text, cls), pa.int64()
                )
            yield pa.RecordBatch.from_pydict(cols)

    return payloads.mapInArrow(featurize, FEATURE_SCHEMA)


def mm_feature_extract_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native decode+featurize twin (same oracle as the pandas
    form — identical results, different Python boundary)."""
    return extract_features_arrow(sql(spark, sf_dir, PAYLOADS))


ORACLE_MM_FEATURE_EXTRACT = """
SELECT
  doc_id,
  len(regexp_extract_all(text, '[a-e]'))        AS f0,
  len(regexp_extract_all(text, '[f-m]'))        AS f1,
  len(regexp_extract_all(text, '[n-s]'))        AS f2,
  len(regexp_extract_all(text, '[t-z]'))        AS f3,
  len(regexp_extract_all(text, '[A-Z]'))        AS f4,
  len(regexp_extract_all(text, '[0-9]'))        AS f5,
  len(regexp_extract_all(text, '[ ]'))          AS f6,
  len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS f7
FROM documents
"""


N_SAMPLE_FRAMES = 4
FRAME_SLICE_BYTES = 16


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic frame sampling over the BINARY payload — the
    container-level half of video decode (seek to N evenly spaced
    offsets, hand each slice to the codec), expressed entirely in
    JVM-side byte ops so it is oracle-checkable, unlike the stubbed
    codec-stub path (decode_frames fake).

    Per selected payload (mime filter pushed below Python, as in
    mm_resize_stub): stride = max(octet_length/4, 1); frame f reads 16
    bytes at offset f*stride. Output is (doc_id, frame_idx, offset,
    n_bytes, frame_md5) — the digest stands in for decoded pixels.

    Oracle note: DuckDB has no BLOB substring, so the oracle slices the
    VARCHAR source and hashes its utf-8 bytes; byte==char only because
    this corpus is ASCII (pinned by test_properties'
    documents-are-ascii guard). The Spark side slices true binary.

    100 TB: pure per-row projection (posexplode x4), no shuffle; the
    mime filter prunes before any byte work; slices are bounded 16 B so
    output stays narrow regardless of payload size.
    """
    docs = table(spark, sf_dir, "documents")
    p = with_binary_payload(docs).filter(
        F.col("meta.mime") != "audio/wav"
    )
    # FLOOR explicitly: DuckDB's CAST(double AS BIGINT) rounds while
    # Spark's truncates — floor is the one portable spelling.
    stride = F.greatest(
        F.floor(F.octet_length("payload") / F.lit(N_SAMPLE_FRAMES)),
        F.lit(1).cast("long"),
    )
    frames = p.select(
        "doc_id",
        "payload",
        stride.alias("stride"),
        F.posexplode(
            F.sequence(F.lit(0), F.lit(N_SAMPLE_FRAMES - 1))
        ).alias("frame_idx", "_f"),
    )
    offset = (F.col("frame_idx") * F.col("stride") + 1).cast("int")
    sl = F.expr(
        f"substring(payload, frame_idx * stride + 1, {FRAME_SLICE_BYTES})"
    )
    return frames.select(
        "doc_id",
        "frame_idx",
        offset.alias("offset"),
        F.octet_length(sl).alias("n_bytes"),
        F.md5(sl).alias("frame_md5"),
    )


ORACLE_MM_FRAME_SAMPLE = f"""
WITH p AS (
  SELECT
    doc_id,
    text,
    GREATEST(CAST(FLOOR(octet_length(encode(text)) / {N_SAMPLE_FRAMES})
                  AS BIGINT), 1) AS stride
  FROM documents
  WHERE doc_id % 3 <> 2  -- mime domain: doc_id%3 -> jpeg,png,wav
),
f AS (
  SELECT doc_id, stride, UNNEST(generate_series(0,
    {N_SAMPLE_FRAMES - 1})) AS frame_idx
  FROM p
)
SELECT
  f.doc_id,
  CAST(f.frame_idx AS INT) AS frame_idx,
  CAST(f.frame_idx * f.stride + 1 AS INT) AS offset,
  octet_length(encode(substring(p.text, CAST(f.frame_idx * f.stride + 1
    AS BIGINT), {FRAME_SLICE_BYTES}))) AS n_bytes,
  md5(substring(p.text, CAST(f.frame_idx * f.stride + 1 AS BIGINT),
    {FRAME_SLICE_BYTES})) AS frame_md5
FROM f JOIN p USING (doc_id)
"""


PHASH_SCHEMA = "doc_id long, phash string, n_ones long"


def mm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash (aHash) duplicate detection over the
    REAL decoded images — the image-dedup primitive every multimodal
    corpus pipeline runs before training (near-identical frames and
    re-encoded copies collapse to one hash; Hamming-near variants
    bucket together under a banded extension of the same hash).

    Kernel: decode each PPM payload (same parse as mm_decode), reduce
    the pixel array to an 8x8 grid of block sums (grayscale = the RGB
    byte sum — a constant factor that cancels in the threshold), and
    emit one bit per non-empty cell: 1 iff the cell mean exceeds the
    image mean. The comparison is FRACTION-FREE (``cell_sum * total_n
    > total_sum * cell_n``), so the hash is pure integer arithmetic
    and the SQL twin — which re-derives every pixel byte from the
    repeated document text — reproduces it bit-for-bit. The hash rides
    as a bitstring; a window over it sizes each duplicate group.

    At 100 TB: decode + hash is map-only Arrow-batched Python; the
    only exchange is the group-size window keyed on the 64-bit-ish
    hash — exact-duplicate groups, the same shuffle shape as
    llm_dedup_exact's digest groupBy. Reference scope: beyond (tag
    "llm"); the mm family's scale notes (module docstring) apply.
    """
    import numpy as np

    payloads = with_ppm_payload(table(spark, sf_dir, "documents"))

    def hash_batch(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, _, px = _ppm_parse(bytes(payload))
                gray = px.reshape(h, w, 3).sum(axis=2, dtype=np.int64)
                rr = (np.arange(h) * 8 // h)[:, None]
                cc = (np.arange(w) * 8 // w)[None, :]
                cell = (rr * 8 + cc).ravel()
                sums = np.bincount(cell, weights=gray.ravel(), minlength=64)
                cnts = np.bincount(cell, minlength=64)
                ts, tn = int(sums.sum()), int(cnts.sum())
                live = cnts > 0
                bits = (sums[live] * tn) > (ts * cnts[live])
                phash = "".join("1" if b else "0" for b in bits)
                rows.append((doc_id, phash, int(bits.sum())))
            yield pd.DataFrame(
                rows, columns=["doc_id", "phash", "n_ones"]
            )

    hashed = payloads.mapInPandas(hash_batch, PHASH_SCHEMA)
    from pyspark.sql import Window

    return hashed.select(
        "doc_id",
        "phash",
        "n_ones",
        F.count(F.lit(1))
        .over(Window.partitionBy("phash"))
        .alias("group_size"),
    )


ORACLE_MM_PHASH = """
WITH d AS (
  SELECT doc_id, text,
         8 + (doc_id % 4) * 4 AS w,
         6 + (doc_id % 3) * 2 AS h,
         LEN(text) AS tl
  FROM documents
),
px AS (
  SELECT doc_id, w, h, g.i AS pos,
         ascii(substr(text, CAST((g.i - 1) % tl AS INT) + 1, 1)) AS b
  FROM d, unnest(generate_series(1, w * h * 3)) AS g(i)
),
cells AS (
  SELECT doc_id,
         ((((pos - 1) // 3) // w) * 8 // h) * 8
           + (((pos - 1) // 3) % w) * 8 // w AS cell,
         SUM(b) AS s, COUNT(*) AS n
  FROM px GROUP BY 1, 2
),
tot AS (
  SELECT doc_id, SUM(s) AS ts, SUM(n) AS tn FROM cells GROUP BY doc_id
),
hashes AS (
  SELECT c.doc_id,
         STRING_AGG(CASE WHEN c.s * t.tn > t.ts * c.n
                         THEN '1' ELSE '0' END, '' ORDER BY c.cell)
           AS phash,
         CAST(SUM(CASE WHEN c.s * t.tn > t.ts * c.n
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_ones
  FROM cells c JOIN tot t USING (doc_id)
  GROUP BY c.doc_id
)
SELECT doc_id, phash, n_ones,
       COUNT(*) OVER (PARTITION BY phash) AS group_size
FROM hashes
"""


QUERIES = {
    "mm_binary_stats": spec(
        mm_binary_stats, ORACLE_MM_BINARY_STATS, "llm",
        doc="binary payload + typed metadata columns",
    ),
    "mm_decode": spec(
        mm_decode, ORACLE_MM_DECODE, "llm",
        doc="REAL PPM (P6) encode->decode round trip: header parse + "
            "numpy pixel stats in mapInPandas, oracle-checked",
    ),
    "mm_resize_stub": spec(
        mm_resize_stub, ORACLE_MM_RESIZE, "llm",
        doc="mapInPandas 1->1 resize kernel, mime-filtered pre-Python",
    ),
    "mm_resize": spec(
        mm_resize, ORACLE_MM_RESIZE_REAL, "llm",
        doc="REAL nearest-neighbor resize of decoded PPM pixels "
            "(scale from decoded dims), oracle-checked",
    ),
    "mm_feature_extract": spec(
        mm_feature_extract, ORACLE_MM_FEATURE_EXTRACT, "llm",
        doc="fused decode+featurize mapInPandas kernel (oracle-checked)",
    ),
    "mm_feature_extract_arrow": spec(
        mm_feature_extract_arrow, ORACLE_MM_FEATURE_EXTRACT, "llm",
        doc="Arrow-native mapInArrow twin of the featurize kernel",
    ),
    "mm_frame_sample": spec(
        mm_frame_sample, ORACLE_MM_FRAME_SAMPLE, "llm",
        doc="binary frame sampling: evenly spaced byte slices, "
            "oracle-checked (unlike the stubbed codec path)",
    ),
    "mm_phash": spec(
        mm_phash, ORACLE_MM_PHASH, "llm",
        doc="perceptual average-hash image dedup over REAL decoded "
            "PPM pixels (fraction-free integer threshold, "
            "byte-level SQL twin)",
    ),
}
