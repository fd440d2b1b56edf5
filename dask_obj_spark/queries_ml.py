"""Query registrations and DuckDB oracles for ``operators/ml.py``."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_obj_spark.functions.hashing import duck_ws_tokens, ws_tokens
from dask_obj_spark.functions.vec import DUCK, cosine_sql
from dask_obj_spark.operators.ml import (
    GD_STEPS,
    LR,
    Q,
    _quant,
    knn_classify,
    logreg_gd_weights,
)
from dask_obj_spark.pinning import pin
from dask_obj_spark.queries import query
from dask_obj_spark.sources import load_table


def _docs_features(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.lit(1.0).alias("x0"),
        (F.col("n_chars") / 1000.0).alias("x1"),
        (F.size(ws_tokens("text")) / 100.0).alias("x2"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )


_DUCK_FEATS = f"""
      SELECT doc_id, 1.0 AS x0, n_chars / 1000.0 AS x1,
             len({duck_ws_tokens("text")}) / 100.0 AS x2,
             CAST(lang = 'en' AS INT) AS y
      FROM documents
"""


def _duck_logreg_oracle(steps: int, lr: float) -> str:
    ctes = [f"feats AS MATERIALIZED ({_DUCK_FEATS})",
            "n AS (SELECT count(*) AS nn FROM feats)",
            "w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)"]
    for i in range(1, steps + 1):
        ctes.append(f"""g{i} AS MATERIALIZED (
      SELECT sum((f.y - 1.0/(1.0+exp(-(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2))))*f.x0) AS g0,
             sum((f.y - 1.0/(1.0+exp(-(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2))))*f.x1) AS g1,
             sum((f.y - 1.0/(1.0+exp(-(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2))))*f.x2) AS g2
      FROM feats f CROSS JOIN w{i-1} w
    ), w{i} AS MATERIALIZED (
      SELECT floor((w.w0 + {lr} * g.g0 / n.nn) * {Q}) / {Q} AS w0,
             floor((w.w1 + {lr} * g.g1 / n.nn) * {Q}) / {Q} AS w1,
             floor((w.w2 + {lr} * g.g2 / n.nn) * {Q}) / {Q} AS w2
      FROM w{i-1} w CROSS JOIN g{i} g CROSS JOIN n
    )""")
    return f"""
    WITH {",".join(ctes)}
    , preds AS (
      SELECT f.y,
             CASE WHEN (w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2) >= 0
                  THEN 1 ELSE 0 END AS yhat
      FROM feats f CROSS JOIN w{steps} w
    )
    SELECT w.w0, w.w1, w.w2,
           round((SELECT avg(CAST(y = yhat AS DOUBLE)) FROM preds), 6)
             AS train_accuracy
    FROM w{steps} w
    """


@query("ml_logreg_gd", oracle=_duck_logreg_oracle(GD_STEPS, LR))
def ml_logreg_gd_q(spark, sf_dir):
    """Logistic regression (predict lang='en' from length features)
    trained by 5 full-batch GD steps inside the engine; output = the
    quantized weights + training accuracy at the sign threshold, every
    step replayed by the unrolled oracle.  Iterative operator #10."""
    docs = load_table(spark, sf_dir, "documents")
    feats = pin(_docs_features(docs))
    w = logreg_gd_weights(feats, ["x0", "x1", "x2"], "y")
    z = F.lit(w[0]) * F.col("x0") + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    acc = feats.select(
        (F.col("y") == F.when(z >= 0, 1).otherwise(0)).cast("double").alias("ok")
    ).agg(F.round(F.avg("ok"), 6).alias("train_accuracy"))
    return acc.select(
        F.lit(w[0]).alias("w0"),
        F.lit(w[1]).alias("w1"),
        F.lit(w[2]).alias("w2"),
        "train_accuracy",
    )


def _duck_logreg_ctes(steps: int, lr: float) -> str:
    """The shared WITH-chain: features + `steps` unrolled GD rounds,
    ending with w{steps} (used by both the weights query and the
    calibration query)."""
    ctes = [f"feats AS MATERIALIZED ({_DUCK_FEATS})",
            "n AS (SELECT count(*) AS nn FROM feats)",
            "w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)"]
    for i in range(1, steps + 1):
        ctes.append(f"""g{i} AS MATERIALIZED (
      SELECT sum((f.y - 1.0/(1.0+exp(-(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2))))*f.x0) AS g0,
             sum((f.y - 1.0/(1.0+exp(-(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2))))*f.x1) AS g1,
             sum((f.y - 1.0/(1.0+exp(-(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2))))*f.x2) AS g2
      FROM feats f CROSS JOIN w{i-1} w
    ), w{i} AS MATERIALIZED (
      SELECT floor((w.w0 + {lr} * g.g0 / n.nn) * {Q}) / {Q} AS w0,
             floor((w.w1 + {lr} * g.g1 / n.nn) * {Q}) / {Q} AS w1,
             floor((w.w2 + {lr} * g.g2 / n.nn) * {Q}) / {Q} AS w2
      FROM w{i-1} w CROSS JOIN g{i} g CROSS JOIN n
    )""")
    return "WITH " + ",".join(ctes)


@query(
    "ml_calibration_bins",
    oracle=_duck_logreg_ctes(GD_STEPS, LR)
    + f"""
    , scored AS (
      SELECT f.y,
             1.0/(1.0+exp(-(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2))) AS p
      FROM feats f CROSS JOIN w{GD_STEPS} w
    ), binned AS (
      SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin, y, p
      FROM scored
    )
    SELECT bin, count(*) AS n,
           round(avg(p), 6) AS mean_pred,
           round(avg(CAST(y AS DOUBLE)), 6) AS frac_pos
    FROM binned GROUP BY bin
    """,
)
def ml_calibration_bins_q(spark, sf_dir):
    """Reliability diagram of the GD-trained classifier: predicted
    probability deciles vs observed positive rate — the calibration
    check every score-thresholding pipeline (quality filtering by
    classifier score) needs before picking a cutoff.  Reuses the exact
    quantized training trajectory; binning floors p into deciles so the
    bin edges are engine-exact.  Plan: score = one broadcast weight
    row against a single corpus scan, then a 10-row hash aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    feats = pin(_docs_features(docs))
    w = logreg_gd_weights(feats, ["x0", "x1", "x2"], "y")
    z = F.lit(w[0]) * F.col("x0") + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    p = 1.0 / (1.0 + F.exp(-z))
    binned = feats.select(
        F.least(F.floor(p * 10), F.lit(9)).cast("bigint").alias("bin"),
        "y",
        p.alias("p"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("p"), 6).alias("mean_pred"),
        F.round(F.avg(F.col("y").cast("double")), 6).alias("frac_pos"),
    )


@query(
    "ml_ols_normal_equations",
    oracle=f"""
    WITH feats AS (
      SELECT n_chars / 1000.0 AS y,
             len({duck_ws_tokens("text")}) / 100.0 AS x
      FROM documents
    ), sums AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM feats
    ), w AS (
      SELECT floor(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1000000)
               / 1000000 AS w1,
             floor(((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n)
                   * 1000000) / 1000000 AS w0
      FROM sums
    ), fit AS (
      SELECT f.y, w.w0 + w.w1 * f.x AS yhat, w.w0, w.w1
      FROM feats f CROSS JOIN w
    )
    SELECT round(max(w0), 6) AS w0, round(max(w1), 6) AS w1,
           round(1.0 - sum((y - yhat) * (y - yhat))
                     / sum((y - (SELECT sy / n FROM sums))
                           * (y - (SELECT sy / n FROM sums))), 6) AS r2
    FROM fit
    """,
)
def ml_ols_normal_equations_q(spark, sf_dir):
    """Closed-form OLS (predict character count from token count) via
    the normal equations: the five sufficient sums (n, Σx, Σy, Σx²,
    Σxy) come from ONE distributed aggregate, the 2×2 solve happens in
    the plan, and a second scan scores R² — the closed-form companion
    to the iterative `ml_logreg_gd` (and the d-feature generalization
    is exactly `sim_gram_matrix` + a driver-side solve).

    Weights are floor-quantized to micro-units before the residual pass
    (the cross-engine contract), so R² is computed from identical
    coefficients on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    feats = pin(
        docs.select(
            (F.col("n_chars") / 1000.0).alias("y"),
            (F.size(ws_tokens("text")) / 100.0).alias("x"),
        )
    )
    s = feats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).collect()[0]
    slope = (s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - s.sx * s.sx)
    w1 = _quant(slope)
    w0 = _quant((s.sy - slope * s.sx) / s.n)
    ybar = s.sy / s.n
    fit = feats.select(
        "y", (F.lit(w0) + F.lit(w1) * F.col("x")).alias("yhat")
    )
    return fit.agg(
        F.round(F.lit(w0), 6).alias("w0"),
        F.round(F.lit(w1), 6).alias("w1"),
        F.round(
            1.0
            - F.sum((F.col("y") - F.col("yhat")) * (F.col("y") - F.col("yhat")))
            / F.sum((F.col("y") - F.lit(ybar)) * (F.col("y") - F.lit(ybar))),
            6,
        ).alias("r2"),
    )


@query(
    "ml_nearest_centroid_confusion",
    oracle="""
    WITH pos AS (
      SELECT vec_id, label, generate_subscripts(embedding::DOUBLE[], 1) AS i,
             unnest(embedding::DOUBLE[]) AS x
      FROM embeddings
    ), cent AS (
      SELECT label AS clabel, i, round(avg(x), 6) AS m
      FROM pos GROUP BY label, i
    ), d2 AS (
      SELECT p.vec_id, p.label AS label_true, c.clabel,
             sum((p.x - c.m) * (p.x - c.m)) AS d2
      FROM pos p JOIN cent c ON c.i = p.i
      GROUP BY p.vec_id, p.label, c.clabel
    ), pred AS (
      SELECT vec_id, label_true, clabel AS label_pred FROM (
        SELECT vec_id, label_true, clabel,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, clabel) AS rn
        FROM d2
      ) WHERE rn = 1
    ), conf AS (
      SELECT label_true, label_pred, count(*) AS n
      FROM pred GROUP BY label_true, label_pred
    )
    SELECT label_true, label_pred, CAST(n AS BIGINT) AS n,
           round(sum(CASE WHEN label_true = label_pred THEN n ELSE 0 END)
                   OVER () * 1.0 / sum(n) OVER (), 6) AS accuracy
    FROM conf
    """,
)
def ml_nearest_centroid_confusion_q(spark, sf_dir):
    """Nearest-centroid classification of the embedding corpus against
    its own label centroids, reported as a confusion matrix with the
    overall accuracy replicated per cell — the cheapest supervised
    sanity check of an embedding space (are classes even separable by
    their means?).

    Centroids are rounded to 6 dp BEFORE the distance pass so the
    argmin trajectory is engine-deterministic; distances accumulate per
    (vector, class) from the dim-exploded stream (the shuffle carries
    k·d partial sums, never vectors — centroid_per_label's contract);
    the final windows run over the k x k confusion table."""
    emb = load_table(spark, sf_dir, "embeddings")
    pos = emb.select(
        "vec_id",
        F.col("label").alias("label_true"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i0", "x"),
    ).withColumn("i", F.col("i0") + 1).drop("i0")
    cent = (
        pos.groupBy(F.col("label_true").alias("clabel"), "i")
        .agg(F.round(F.avg("x"), 6).alias("m"))
    )
    d2 = (
        pos.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "label_true", "clabel")
        .agg(F.sum((F.col("x") - F.col("m")) * (F.col("x") - F.col("m"))).alias("d2"))
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("vec_id").orderBy("d2", "clabel")
    )
    pred = (
        d2.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("label_true", F.col("clabel").alias("label_pred"))
    )
    conf = pred.groupBy("label_true", "label_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    wall = W.partitionBy()
    return conf.select(
        "label_true",
        "label_pred",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.sum(
                F.when(F.col("label_true") == F.col("label_pred"), F.col("n")).otherwise(0)
            ).over(wall)
            / F.sum("n").over(wall),
            6,
        ).alias("accuracy"),
    )


def _duck_knn_classify_oracle(probe_mod: int, k: int) -> str:
    from dask_obj_spark.operators.similarity import DIM

    cos = cosine_sql("p.v", "c.v", DIM, DUCK)
    return f"""
WITH base AS MATERIALIZED (
  SELECT vec_id AS vid, embedding::DOUBLE[] AS v, label FROM embeddings
),
ranked AS MATERIALIZED (
  SELECT p.vid AS pid, c.vid AS nid, c.label AS lbl,
         row_number() OVER (
           PARTITION BY p.vid ORDER BY {cos} DESC, c.vid ASC
         ) AS rank
  FROM base p JOIN base c ON p.vid <> c.vid
  WHERE p.vid % {probe_mod} = 0
),
votes AS (
  SELECT pid, lbl, count(*)::BIGINT AS votes
  FROM ranked WHERE rank <= {k} GROUP BY pid, lbl
),
pred AS (
  SELECT pid, lbl AS pred_label, votes,
         row_number() OVER (
           PARTITION BY pid ORDER BY votes DESC, lbl ASC
         ) AS rn
  FROM votes
)
SELECT b.vid AS pid, b.label::INT AS true_label, p.pred_label::INT AS pred_label,
       p.votes, b.label = p.pred_label AS correct
FROM base b JOIN pred p ON b.vid = p.pid AND p.rn = 1
"""


@query("ml_knn_classify", oracle=_duck_knn_classify_oracle(50, 10))
def ml_knn_classify_q(spark, sf_dir):
    """kNN (k=10) majority-vote label prediction for 1-in-50 probe
    vectors with per-probe correctness against the true label."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_classify(emb, "vec_id", "embedding", "label", probe_mod=50)
