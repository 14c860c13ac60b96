"""Distributed quality classifier — logistic regression from scratch.

The learned counterpart of the heuristic quality gate: production
curation stacks train a lightweight classifier (fastText-style) on
labeled good/bad text and score the corpus with it. This module is
that operator in pure Spark + NumPy:

- **featurize**: the dialect-templated heuristic signals
  (``text/analysis.py``) plus raw length stats become a dense
  ``array<double>`` per doc, standardized by corpus mean/std from ONE
  aggregate pass — all codegen until the final assembly;
- **train**: full-batch gradient descent, each iteration ONE
  ``mapInPandas`` partial-gradient pass over a CACHED feature table,
  collected and summed on the driver (the classic distributed-GD shape:
  the corpus never moves, ``O(d)`` floats per partition cross the wire
  per iteration). No sampling, no RNG: deterministic up to float summation
  order, verified against a single-machine NumPy reference;
- **score**: broadcast weights, map-only sigmoid.

Differential test: tests/test_quality_clf.py trains the same geometry
in plain NumPy and checks weight-level agreement; the driver gate
checks separability on the fixture corpus and determinism.

No reference counterpart (mandated training-pipeline operator).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["featurize", "train_logreg", "score_logreg"]

FEATURES = [
    "n_chars",
    "n_tokens",
    "mean_token_len",
    "stopword_frac_e6",
    "alpha_frac_e6",
    "digit_frac_e6",
]


def featurize(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, features array<double>) — raw signal extraction in codegen."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.split(t, " ")
    n_chars = F.length(t).cast("double")
    n_tokens = F.size(toks).cast("double")
    mean_tok = n_chars / F.greatest(n_tokens, F.lit(1.0))
    stop = (
        F.size(
            F.filter(
                toks,
                lambda w: w.isin(
                    "the", "a", "of", "and", "to", "in", "is", "it"
                ),
            )
        ).cast("double")
        / F.greatest(n_tokens, F.lit(1.0))
    )
    alpha = (
        F.length(F.regexp_replace(t, "[^a-zA-Z]", "")).cast("double")
        / F.greatest(n_chars, F.lit(1.0))
    )
    digit = (
        F.length(F.regexp_replace(t, "[^0-9]", "")).cast("double")
        / F.greatest(n_chars, F.lit(1.0))
    )
    return df.select(
        F.col(id_col),
        F.array(n_chars, n_tokens, mean_tok, stop, alpha, digit).alias(
            "features"
        ),
    )


def _standardize(feat: DataFrame) -> tuple[DataFrame, np.ndarray, np.ndarray]:
    d = len(FEATURES)
    stats = feat.select(
        *[F.avg(F.element_at("features", i + 1)).alias(f"m{i}") for i in range(d)],
        *[
            F.stddev_pop(F.element_at("features", i + 1)).alias(f"s{i}")
            for i in range(d)
        ],
    ).collect()[0]
    mu = np.array([stats[f"m{i}"] or 0.0 for i in range(d)])
    sd = np.array([stats[f"s{i}"] or 1.0 for i in range(d)])
    sd = np.where(sd > 0, sd, 1.0)
    return feat, mu, sd


def _grad_kernel(w: np.ndarray, mu: np.ndarray, sd: np.ndarray, label: str):
    def gen(batches):
        g = np.zeros_like(w)
        loss = 0.0
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = (np.stack(pdf["features"].to_numpy()) - mu) / sd
            x = np.hstack([x, np.ones((len(x), 1))])  # bias
            y = pdf[label].to_numpy(dtype=np.float64)
            z = x @ w
            p = 1.0 / (1.0 + np.exp(-z))
            g += x.T @ (p - y)
            loss += float(
                -(y * np.log(p + 1e-12) + (1 - y) * np.log(1 - p + 1e-12)).sum()
            )
            n += len(x)
        yield pd.DataFrame(
            {"g": [g.tobytes()], "loss": [loss], "n": [n]}
        )

    return gen


def train_logreg(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
    iters: int = 40,
    lr: float = 0.5,
    l2: float = 1e-4,
) -> dict:
    """Train on (text, 0/1 label); returns {w, mu, sd, losses}.

    ``w`` has d+1 entries (bias last), in STANDARDIZED feature space.
    """
    feat = featurize(df, id_col, text_col).join(
        df.select(id_col, label_col), id_col
    )
    feat = feat.persist()
    feat.count()
    _, mu, sd = _standardize(feat)
    d = len(FEATURES)
    w = np.zeros(d + 1)
    losses = []
    try:
        for _ in range(iters):
            parts = feat.mapInPandas(
                _grad_kernel(w, mu, sd, label_col),
                schema="g binary, loss double, n long",
            ).collect()
            g = np.zeros(d + 1)
            loss, n = 0.0, 0
            for r in parts:
                g += np.frombuffer(bytes(r["g"]), dtype=np.float64)
                loss += r["loss"]
                n += r["n"]
            g = g / n + l2 * w
            w = w - lr * g
            losses.append(loss / n)
    finally:
        feat.unpersist()
    return {"w": w, "mu": mu, "sd": sd, "losses": losses}


def score_logreg(
    df: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "quality_prob",
) -> DataFrame:
    """(id, quality_prob) — broadcast weights, map-only sigmoid."""
    w, mu, sd = model["w"], model["mu"], model["sd"]
    feat = featurize(df, id_col, text_col)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = (np.stack(pdf["features"].to_numpy()) - mu) / sd
            x = np.hstack([x, np.ones((len(x), 1))])
            p = 1.0 / (1.0 + np.exp(-(x @ w)))
            yield pd.DataFrame({"id": pdf["id"], out_col: p})

    return (
        feat.withColumnRenamed(id_col, "id")
        .mapInPandas(gen, schema=f"id long, {out_col} double")
        .withColumnRenamed("id", id_col)
    )
