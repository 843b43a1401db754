"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as `BinaryType` columns
with a typed metadata struct — the lakehouse pattern for multimodal
training data (the bytes stay opaque to Catalyst; metadata drives
partitioning, filtering, and sampling). The *decode* step (real image
/ audio libs) is NOT available in this container, so:

- the Spark-side plumbing — schema, batch iteration, Arrow transfer,
  UDF signatures, output schema — is REAL and tested;
- the codec call itself is stubbed: `decode_features` computes
  deterministic byte-level features, and raising `real_decode=True`
  hits the clearly-marked NotImplementedError seam where PIL /
  torchaudio / ffmpeg would plug in.

Scale: `mapInPandas` streams Arrow record batches through one Python
worker per core with constant memory; binary payloads never pass
through the driver. Decode-heavy stages should `repartition` to the
cluster's GPU/CPU budget first and write back columnar features, not
raw bytes.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

#: Output schema of the (stubbed) decode/feature-extract stage.
DECODE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("first_byte", T.IntegerType()),
        T.StructField("last_byte", T.IntegerType()),
        T.StructField("byte_sum_mod", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def attach_binary(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build the multimodal column pair from the documents table:
    payload = UTF-8 bytes of the text (deterministic stand-in for
    image/audio bytes), metadata = typed struct with fake-but-
    deterministic dimensions derived from a 60-bit content hash."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60

    staged = df.select(
        F.col(id_col),
        F.col(text_col).alias("_txt"),
        hash60(F.col(text_col)).alias("_h"),
    )
    return staged.select(
        F.col(id_col),
        F.encode(F.col("_txt"), "UTF-8").alias("payload"),
        F.struct(
            F.octet_length(F.col("_txt")).cast("long").alias("byte_len"),
            F.when(F.col(id_col) % 2 == 0, "image/png").otherwise("audio/wav").alias("mime"),
            (F.col("_h") % 1920).cast("int").alias("width"),
            # integer div — h exceeds double mantissa, so no `/`
            F.expr("(_h div 1920) % 1080").cast("int").alias("height"),
        ).alias("media_meta"),
    )


def decode_features(df: DataFrame, real_decode: bool = False) -> DataFrame:
    """Feature-extract over binary payloads via mapInPandas.

    Arrow-batched: each partition arrives as an iterator of pandas
    DataFrames; we emit one feature row per payload. ``real_decode``
    marks the seam where an actual codec (PIL, torchaudio, ffmpeg)
    would decode `payload` — unavailable in this container.
    """

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            if real_decode:
                raise NotImplementedError(
                    "real codec decode (PIL/torchaudio/ffmpeg) is stubbed in "
                    "this environment; deterministic byte features only"
                )
            payloads = batch["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"],
                    "byte_len": payloads.map(len),
                    "first_byte": payloads.map(lambda b: b[0] if len(b) else -1),
                    "last_byte": payloads.map(lambda b: b[-1] if len(b) else -1),
                    "byte_sum_mod": payloads.map(lambda b: sum(b) % 997),
                    "n_frames": payloads.map(lambda b: len(b) % 10 + 1),
                }
            )

    return df.mapInPandas(extract, DECODE_FEATURES_SCHEMA)


def resize_media(df: DataFrame, target_w: int = 256, target_h: int = 256) -> DataFrame:
    """Resize stage (stub): updates the metadata struct to the target
    dimensions and re-emits a deterministically 'resized' payload
    (byte-subsampled to the area ratio — a real codec resample is the
    NotImplementedError seam in decode_features). The Spark shape is
    the real thing: payload+metadata in, payload+metadata out,
    row-local, streamable through mapInPandas."""

    def resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for batch in batches:
            def shrink(b: bytes) -> bytes:
                old_area = max(len(b), 1)
                step = max(old_area // (target_w * target_h // 64 or 1), 1)
                return b[::step]

            batch = batch.copy()
            batch["payload"] = batch["payload"].map(shrink)
            meta = batch["media_meta"]
            batch["media_meta"] = meta.map(
                lambda m: {**m, "width": target_w, "height": target_h,
                           "byte_len": None}
            )
            yield batch

    out = df.mapInPandas(resize, df.schema)
    # byte_len must reflect the new payload — recompute JVM-side.
    return out.withColumn(
        "media_meta",
        F.struct(
            F.octet_length(F.col("payload")).cast("long").alias("byte_len"),
            F.col("media_meta.mime").alias("mime"),
            F.col("media_meta.width").alias("width"),
            F.col("media_meta.height").alias("height"),
        ),
    )


#: Frame-sampling rate: one payload in this many survives.
FRAME_EVERY_N = 4


def frame_sample(df: DataFrame) -> DataFrame:
    """Frame-sampling stand-in: keep every :data:`FRAME_EVERY_N`-th payload by
    content hash — the shape of a video frame-sampling stage (filter
    before decode, so skipped frames never reach the codec).

    The hash rides on hex(payload), not base64: Spark's base64 is
    MIME-chunked (\\r\\n every 76 chars) while DuckDB's is not, so hex
    is the portable binary→text bridge for oracle parity."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60

    return df.filter(hash60(F.hex(F.col("payload"))) % FRAME_EVERY_N == 0)


def frame_windows(
    df: DataFrame,
    frame_len: int = 256,
    hop: int = 128,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Hop-windowed byte frames over a binary payload — the audio
    frame-windowing shape (frame_len/hop in bytes standing in for
    samples; a real codec slots into the decode seam, the WINDOWING
    is codec-independent and stays here in Catalyst).

    Pure declarative slicing: a `sequence` generator emits one row
    per frame start (0, hop, 2·hop, … < byte_len), `substring` slices
    the frame bytes in-row, and the md5 checksum rides the slice —
    no Python, no driver, payload never copied more than once per
    frame. At 100 TB the frame explosion is the big fan-out; keep it
    AFTER any content-hash sampling filter (q_multimodal_framesample
    ordering) and repartition to the decode budget before the codec
    stage."""
    blen = F.octet_length(F.col(payload_col)).cast("long")
    n_frames = (F.lit(1) + F.floor((F.greatest(blen - 1, F.lit(0))) / F.lit(hop))).cast("int")
    framed = df.select(
        F.col(id_col),
        F.col(payload_col),
        blen.alias("byte_len"),
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    )
    start = (F.col("frame_idx").cast("long") * F.lit(hop)).alias("start_off")
    framed = framed.select(
        id_col,
        "byte_len",
        "frame_idx",
        start,
        F.least(F.lit(frame_len), F.col("byte_len") - F.col("frame_idx") * F.lit(hop))
        .cast("long")
        .alias("frame_bytes"),
        F.expr(f"substring({payload_col}, frame_idx * {hop} + 1, {frame_len})").alias("_frame"),
    )
    # checksum over the frame's HEX STRING, not the raw bytes: the
    # DuckDB oracle's md5 has no BLOB overload, and hex round-trips
    # byte-exactly in both engines (uppercase both sides).
    return framed.select(
        id_col,
        "byte_len",
        "frame_idx",
        "start_off",
        "frame_bytes",
        F.md5(F.encode(F.hex(F.col("_frame")), "UTF-8")).alias("frame_md5"),
    )


def attach_exif_payload(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Binary payloads with a planted EXIF-style fixed-width header:
    ``b"EXIF" + width(4 hex) + height(4 hex) + mime(1 char)`` ahead of
    the body bytes. Deterministic (hash-derived dimensions), so the
    extraction below is oracle-checkable — the structured-binary
    stand-in for real EXIF/ID3 tag blocks."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60

    staged = df.select(
        F.col(id_col),
        F.col(text_col).alias("_txt"),
        hash60(F.col(text_col)).alias("_h"),
    )
    w = (F.col("_h") % 1920).cast("int")
    h = F.expr("(_h div 1920) % 1080").cast("int")
    header = F.concat(
        F.lit("EXIF"),
        F.lpad(F.lower(F.hex(w)), 4, "0"),
        F.lpad(F.lower(F.hex(h)), 4, "0"),
        F.when(F.col(id_col) % 2 == 0, "I").otherwise("A"),
    )
    return staged.select(
        F.col(id_col),
        F.encode(F.concat(header, F.col("_txt")), "UTF-8").alias("payload"),
    )


def parse_exif(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Extract the typed header back OUT of the opaque binary — pure
    Catalyst byte slicing + hex parse, no Python: the metadata-
    extraction half of an EXIF reader (real tag walking plugs into
    the decode seam; fixed-offset field extraction is engine work).
    Invalid payloads (wrong magic) yield null fields rather than
    errors — the malformed-tolerance contract of every ingest path."""
    magic = F.decode(F.expr(f"substring({payload_col}, 1, 4)"), "UTF-8")
    wid = F.conv(F.decode(F.expr(f"substring({payload_col}, 5, 4)"), "UTF-8"), 16, 10).cast("long")
    hei = F.conv(F.decode(F.expr(f"substring({payload_col}, 9, 4)"), "UTF-8"), 16, 10).cast("long")
    mime = F.decode(F.expr(f"substring({payload_col}, 13, 1)"), "UTF-8")
    ok = magic == "EXIF"
    return df.select(
        id_col,
        F.when(ok, wid).alias("exif_width"),
        F.when(ok, hei).alias("exif_height"),
        F.when(ok, mime).alias("mime_code"),
        (F.octet_length(F.col(payload_col)) - F.lit(13)).cast("long").alias("body_bytes"),
        ok.cast("int").cast("long").alias("valid_header"),
    )
