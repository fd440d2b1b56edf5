"""In-engine model training: distributed full-batch gradient descent.

The reference has no ML surface (imports are dask/toolz/operator only);
this module demonstrates the *training* layout a 100 TB pipeline uses
for cheap model fits (quality classifiers, calibration layers): the
DATA never moves — each step is one corpus scan computing per-feature
gradient sums (map-side combined), and only the d-dimensional weight
vector circulates through the driver, exactly the k-means-centroid /
power-iteration contract (PLANS.md).

Cross-engine determinism: after every step the weights are
floor-quantized to micro-units before re-entering the next step's
expressions, so the ~1e-13 engine-order noise in the gradient sums can
never accumulate across rounds (same contract as ts_changepoint_cusum's
quantized mean; the sigmoid's last-ulp libm differences are absorbed by
the same quantization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


LR = 0.5  # learning rate
GD_STEPS = 5
Q = 1_000_000  # weight quantization: micro-units


def _quant(x: float) -> float:
    import math

    return math.floor(x * Q) / Q


def logreg_gd_weights(
    df: DataFrame, feature_cols: list[str], label_col: str,
    steps: int = GD_STEPS, lr: float = LR,
) -> list[float]:
    """Train logistic regression by `steps` full-batch GD steps.

    Features must include the bias as a constant column if wanted.
    Returns the quantized weight vector.  Each step is ONE distributed
    aggregate (d+0 gradient sums + the count); the driver applies the
    update to d floats — no per-row state leaves the executors."""
    d = len(feature_cols)
    w = [0.0] * d
    n = None
    for _ in range(steps):
        z = None
        for j, c in enumerate(feature_cols):
            t = F.lit(w[j]) * F.col(c)
            z = t if z is None else z + t
        sig = 1.0 / (1.0 + F.exp(-z))
        resid = F.col(label_col) - sig
        aggs = [F.sum(resid * F.col(c)).alias(f"g{j}") for j, c in enumerate(feature_cols)]
        if n is None:
            aggs.append(F.count(F.lit(1)).alias("n"))
        row = df.agg(*aggs).collect()[0]
        if n is None:
            n = row["n"]
        w = [_quant(w[j] + lr * row[f"g{j}"] / n) for j in range(d)]
    return w


# -- kNN majority-vote classification over the embedding space ----------------


def knn_classify(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    probe_mod: int,
    k: int = 10,
) -> DataFrame:
    """k-nearest-neighbor majority-vote classification: each probe's
    label is the modal label among its k exact cosine neighbors (ties
    broken by smallest label — deterministic on both engines), reported
    against the probe's true label.

    Reference has no ML surface (SURVEY.md §2 Tier E) — Tier-E op next
    to the nearest-centroid classifier above: centroid needs a model
    fit, kNN needs none (the index IS the model), which is why it's the
    standard first read on a freshly embedded corpus.

    Plan: the pair surface reuses `cosine_ranked_raw` (broadcast
    probes, MAX_PROBES-bounded, corpus repartitioned before the
    interpreted fold); neighbor labels arrive by equi-join on the
    neighbor id (labels project to 2 columns — never the vectors); the
    vote is one (probe, label) hash-agg + one per-probe row_number.
    At 100 TB the brute kernel swaps for `knn_graph_ann`'s edges with
    this exact vote tail unchanged.

    Returns (pid, true_label, pred_label, votes, correct).
    """
    from dask_obj_spark.operators.similarity import cosine_ranked_raw
    from pyspark.sql import Window

    labels = df.select(
        F.col(id_col).alias("lid"), F.col(label_col).cast("int").alias("lbl")
    )
    nbrs = (
        cosine_ranked_raw(df, id_col, vec_col, probe_mod)
        .filter(F.col("rank") <= k)
        .join(labels, F.col("id2") == F.col("lid"))
        .select(F.col("id1").alias("pid"), F.col("lbl"))
    )
    votes = nbrs.groupBy("pid", "lbl").agg(F.count(F.lit(1)).alias("votes"))
    w = Window.partitionBy("pid").orderBy(F.desc("votes"), F.asc("lbl"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("pid", F.col("lbl").alias("pred_label"), "votes")
    )
    truth = df.filter(F.col(id_col) % probe_mod == 0).select(
        F.col(id_col).alias("pid"), F.col(label_col).cast("int").alias("true_label")
    )
    return truth.join(pred, "pid").select(
        "pid",
        "true_label",
        "pred_label",
        F.col("votes").cast("bigint").alias("votes"),
        (F.col("true_label") == F.col("pred_label")).alias("correct"),
    )
