"""Multimodal (image/audio/video) column operators (north-star Tier E;
absent in the reference — `/root/reference/src/dask_obj/core.py:3-10`
has no binary/media handling).

Design for 100 TB:

- Media payloads are **opaque `BinaryType` columns** with a typed
  metadata struct (`mime`, `kind`, `n_bytes`). Blobs > ~2 GB or cold
  archives use the *pointer convention*: `payload NULL` + a `ref` path
  column, fetched inside the decode UDF (SURVEY.md §2 Tier E row).
- Decode / feature-extract run as **Arrow-batched `mapInPandas`** UDFs:
  whole partitions stream through Python as columnar batches — the only
  sanctioned Python boundary. Partitioning stays whatever the upstream
  scan chose; no shuffle is introduced by any per-row media op.
- Real codecs (PIL/ffmpeg/soundfile) are NOT in this container, so
  `decode_media` dispatches to a **deterministic fake decoder** by
  default and raises `NotImplementedError` for `backend="real"` — the
  Spark-side plumbing (schema, batch iteration, UDF signature) is real
  and oracle-/unit-tested either way.
- Frame sampling is pure column algebra (`sequence` + `substring`):
  sampling every Nth fixed-size frame never needs Python.

The driver test data has no binary fixtures, so `as_multimodal`
manufactures payloads deterministically from `documents.text` (UTF-8
bytes) — byte-level ops are then oracle-checkable through DuckDB string
functions over the same text.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)


KINDS = ["image", "audio", "video"]
MIMES = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}


def as_multimodal(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Manufacture a multimodal table from text rows: binary payload
    (UTF-8 bytes) + metadata struct. Deterministic: kind = id % 3."""
    kind = F.element_at(
        F.array(*[F.lit(k) for k in KINDS]), (F.col(id_col) % 3 + 1).cast("int")
    )
    mime = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in MIMES.items() for x in kv]
        ),
        kind,
    )
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            mime.alias("mime"),
            kind.alias("kind"),
            F.octet_length(payload).alias("n_bytes"),
        ).alias("meta"),
    )


# -- decode / feature extraction (mapInPandas boundary) -----------------------

DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("n_space", LongType()),
        StructField("checksum", LongType()),
    ]
)


def decode_media(df: DataFrame, backend: str = "fake") -> DataFrame:
    """Decode payloads to per-item features via Arrow-batched mapInPandas.

    ``backend="real"`` is the production slot (PIL/ffmpeg/soundfile per
    ``meta.kind``) — unavailable in this container by design.

    The batch function is a self-contained closure (no references to this
    package) so cloudpickle ships it by value — workers never need
    dask_obj_spark importable.
    """
    if backend == "real":
        raise NotImplementedError(
            "real media codecs (PIL/ffmpeg/soundfile) are not installed; "
            "use backend='fake' (deterministic byte-level decode)"
        )
    if backend != "fake":
        raise ValueError(f"unknown backend {backend!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            payloads = pdf["payload"]
            # pointer-convention rows (payload NULL + ref, module
            # docstring) surface here in the real backend as a fetch;
            # the fake backend propagates NULL features instead of
            # crashing on len(None) (r13 review finding)
            feat = lambda fn: payloads.map(  # noqa: E731
                lambda b: None if b is None else fn(bytes(b))
            )
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": feat(len),
                    "n_space": feat(lambda b: b.count(b" ")),
                    "checksum": feat(lambda b: sum(b) % (2**31)),
                }
            )

    return df.mapInPandas(run, DECODE_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("resized_width", LongType()),
        StructField("resized_height", LongType()),
    ]
)


def resize_images(df: DataFrame, target_w: int = 64, target_h: int = 64) -> DataFrame:
    """Image-resize plumbing: filter to image kind, 'decode' dimensions
    deterministically from the byte stream, compute the letterboxed
    target size (aspect-preserving). The pixel work is the stub; the
    schema/batch/partition shape is the real contract."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # pointer-convention rows (payload NULL + ref) propagate
            # NULL dims instead of crashing on len(None) — the same
            # r13 decode_media finding, one function over (r14 review)
            n = pdf["payload"].map(
                lambda b: float("nan") if b is None else float(len(b))
            )
            w = (n % 317) + 16  # fake intrinsic dims, deterministic
            h = (n % 211) + 16
            scale = pd.concat([target_w / w, target_h / h], axis=1).min(axis=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w.astype("Int64"),
                    "height": h.astype("Int64"),
                    "resized_width": (w * scale).floordiv(1).astype("Int64"),
                    "resized_height": (h * scale).floordiv(1).astype("Int64"),
                }
            )

    return df.filter(F.col("meta.kind") == "image").mapInPandas(run, RESIZE_SCHEMA)


# -- frame sampling (pure column algebra) -------------------------------------


def sample_frames(
    df: DataFrame, frame_bytes: int = 16, every: int = 4
) -> DataFrame:
    """Sample every Nth fixed-size frame from video payloads: frame i
    covers bytes [i*frame_bytes, (i+1)*frame_bytes). Pure sequence +
    substring + md5 — no Python, no shuffle."""
    txt = F.decode(F.col("payload"), "utf-8")  # ASCII fixture ⇒ 1 byte/char
    n_frames = F.floor((F.octet_length("payload") - 1) / frame_bytes) + 1
    idxs = F.filter(
        F.sequence(F.lit(0), n_frames - 1), lambda i: i % every == 0
    )
    frame = lambda i: F.substring(txt, (i * frame_bytes + 1).cast("int"), frame_bytes)
    frames = F.transform(
        idxs,
        lambda i: F.struct(i.alias("frame_idx"), F.md5(frame(i)).alias("frame_md5")),
    )
    return (
        # empty payloads have no frames: without this filter n_frames = 0,
        # sequence(0, -1) yields a DESCENDING [0, -1] and a spurious
        # frame-0 row (md5 of '') — the oracle's range() emits nothing
        df.filter((F.col("meta.kind") == "video") & (F.octet_length("payload") > 0))
        .select("doc_id", F.explode(frames).alias("f"))
        .select("doc_id", "f.frame_idx", "f.frame_md5")
    )
