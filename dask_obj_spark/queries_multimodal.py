"""Query registrations and DuckDB oracles for ``operators/multimodal.py``."""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_obj_spark.functions.vec import DUCK, l2_norm, norm_sql
from dask_obj_spark.operators.multimodal import (
    as_multimodal,
    decode_media,
    resize_images,
    sample_frames,
)
from dask_obj_spark.queries import query
from dask_obj_spark.sources import load_table


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
