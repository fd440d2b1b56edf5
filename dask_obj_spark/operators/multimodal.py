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

from dask_obj_spark.functions.vec import DUCK, l2_norm, norm_sql
from dask_obj_spark.queries import query
from dask_obj_spark.sources import load_table

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


# ============================== queries ======================================


@query(
    "mm_payload_meta",
    oracle=f"""
    WITH k AS (
      SELECT doc_id, ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
             octet_length(encode(text)) AS n_bytes
      FROM documents
    )
    SELECT doc_id, kind,
           CASE kind WHEN 'image' THEN 'image/png'
                     WHEN 'audio' THEN 'audio/wav'
                     ELSE 'video/mp4' END AS mime,
           n_bytes
    FROM k
    """,
)
def mm_payload_meta_q(spark, sf_dir):
    """Multimodal ingest: binary payload + typed metadata struct."""
    mm = as_multimodal(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    return mm.select(
        "doc_id",
        F.col("meta.kind").alias("kind"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


@query(
    "mm_decode_features",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           length(text) - length(replace(text, ' ', '')) AS n_space
    FROM documents
    """,
)
def mm_decode_features_q(spark, sf_dir):
    """Arrow-batched mapInPandas decode of binary payloads — byte count
    and space count oracle-checked (the checksum byte fold is oracle-
    paired separately in `mm_decode_checksum` below)."""
    mm = as_multimodal(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    return decode_media(mm).select("doc_id", "n_bytes", "n_space")


@query(
    "mm_decode_checksum",
    oracle="""
    WITH s AS (
      SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
      FROM documents
    ),
    cs AS (
      SELECT doc_id,
             CAST(sum(ord(substr(text, i::INT, 1))) % 2147483648 AS BIGINT)
               AS checksum
      FROM s GROUP BY doc_id
    )
    SELECT d.doc_id,
           octet_length(encode(d.text)) AS n_bytes,
           length(d.text) - length(replace(d.text, ' ', '')) AS n_space,
           coalesce(cs.checksum, CAST(0 AS BIGINT)) AS checksum
    FROM documents d LEFT JOIN cs ON d.doc_id = cs.doc_id
    """,
)
def mm_decode_checksum_q(spark, sf_dir):
    """Full fake-decode output incl. the byte-sum checksum, ORACLE-
    PAIRED (was rows-only through round 9): the byte fold IS SQL-
    expressible on this fixture — the documents table is pure ASCII
    (octet_length = length corpus-wide, the same equivalence
    mm_frame_sample's substr-on-text oracle already leans on), so the
    UTF-8 byte sum the worker computes equals the per-character
    codepoint sum DuckDB folds via unnest(range) + ord.  The left
    join zero-fills empty payloads (an empty range drops the doc from
    the grouped fold, while the Spark worker still emits its row)."""
    mm = as_multimodal(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    return decode_media(mm)


@query(
    "mm_frame_sample",
    oracle="""
    WITH v AS (
      SELECT doc_id, text,
             (octet_length(encode(text)) - 1) // 16 AS max_frame
      FROM documents WHERE doc_id % 3 = 2
    ), idx AS (
      SELECT doc_id, text, unnest(range(0, max_frame + 1)) AS frame_idx FROM v
    )
    SELECT doc_id, frame_idx, md5(substr(text, frame_idx * 16 + 1, 16)) AS frame_md5
    FROM idx WHERE frame_idx % 4 = 0
    """,
)
def mm_frame_sample_q(spark, sf_dir):
    """Every-4th 16-byte frame of video payloads with per-frame hash —
    frame sampling as pure column algebra."""
    mm = as_multimodal(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    return sample_frames(mm, 16, 4)


@query(
    "mm_resize",
    oracle="""
    WITH img AS (
      SELECT doc_id, octet_length(encode(text)) AS n
      FROM documents WHERE doc_id % 3 = 0
    ), dims AS (
      SELECT doc_id, (n % 317) + 16 AS width, (n % 211) + 16 AS height
      FROM img
    )
    SELECT doc_id,
           CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           CAST(floor(width * least(64.0 / width, 64.0 / height)) AS BIGINT)
             AS resized_width,
           CAST(floor(height * least(64.0 / width, 64.0 / height)) AS BIGINT)
             AS resized_height
    FROM dims
    """,
)
def mm_resize_q(spark, sf_dir):
    """Aspect-preserving letterbox resize plumbing over image payloads,
    ORACLE-PAIRED (was rows-only through round 9): the stubbed decoder's
    fake intrinsic dims are pure integer algebra on the payload length
    ((n % 317) + 16, (n % 211) + 16), and the letterbox scale is one
    correctly-rounded IEEE division + multiply — deterministic and
    identical cross-engine, so floor() (pandas astype('int64')
    truncation on positive values) hashes exactly.  Only the pixel
    work itself remains a stub; the dims/scale/schema contract is now
    hash-verified."""
    mm = as_multimodal(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    return resize_images(mm, 64, 64)


@query(
    "mm_clip_pairs",
    oracle="""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), n AS (
      SELECT count(*) AS nn FROM emb
    ), norms AS (
      SELECT vec_id,
             round("""
    + norm_sql("v", 64, DUCK)
    + """, 6) AS l2
      FROM emb
    ), media AS (
      SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents
    )
    SELECT m.doc_id,
           m.n_bytes,
           p.l2 AS pos_l2,
           CAST((m.doc_id + 137) % n.nn AS BIGINT) AS neg_id,
           g.l2 AS neg_l2
    FROM media m
      JOIN norms p ON p.vec_id = m.doc_id
      CROSS JOIN n
      JOIN norms g ON g.vec_id = (m.doc_id + 137) % n.nn
    """,
)
def mm_clip_pairs_q(spark, sf_dir):
    """Contrastive cross-modal pair construction (CLIP-style): each
    media payload joins its id-aligned embedding as the positive and a
    deterministic modular-ring offset (+137 mod N) as the hard
    negative — the batch-builder every image-text contrastive trainer
    needs, with the media side's byte size carried for batch packing.

    Plan: payload features come from the Arrow-batched decode path
    (`decode_media`); both embedding joins are equi on the id; the ring
    offset is pure arithmetic, so negatives need no shuffle of their
    own (same trick as corpus_contrastive_negatives).  At 100 TB both
    sides are bucketed by id and the joins are co-partitioned."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    media = decode_media(as_multimodal(docs, "doc_id", "text")).select(
        "doc_id", "n_bytes"
    )
    norms = emb.select(
        F.col("vec_id"),
        F.round(l2_norm(F.col("embedding").cast("array<double>")), 6).alias("l2"),
    )
    nn = emb.count()
    pos = norms.select(F.col("vec_id").alias("doc_id"), F.col("l2").alias("pos_l2"))
    neg = norms.select(F.col("vec_id").alias("neg_id"), F.col("l2").alias("neg_l2"))
    return (
        media.join(pos, "doc_id")
        .withColumn("neg_id", ((F.col("doc_id") + 137) % nn).cast("bigint"))
        .join(neg, "neg_id")
        .select("doc_id", "n_bytes", "pos_l2", "neg_id", "neg_l2")
    )
