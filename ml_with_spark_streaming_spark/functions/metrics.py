"""Classification metrics as DataFrame aggregations.

Replaces the reference's driver-side sklearn metrics
(PAC/passiveAgressiveModel.py:107-115): confusion matrix is a
``groupBy(label, prediction).count()``; the scalar metrics are derived
from its four cells. Only the 2×2 cell counts ever reach the driver —
at 100 TB the metric computation is one shuffle of 4 rows.

Note on 'rmse': the reference stores sklearn ``mean_squared_error``
under the CSV column named 'rmse' (PAC/passiveAgressiveModel.py:112,160)
— i.e. it is actually MSE. The engine computes true RMSE and documents
the deviation (FIXTURES.md §3).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class BinaryMetrics:
    n: int
    tp: int
    fp: int
    tn: int
    fn: int
    accuracy: float
    precision: float
    recall: float
    f1: float
    rmse: float

    def as_row(self) -> dict[str, float]:
        return {
            "acc": self.accuracy,
            "precision": self.precision,
            "recall": self.recall,
            "f1": self.f1,
            "rmse": self.rmse,
        }


def confusion_matrix(pred_df: DataFrame, label_col: str = "target", pred_col: str = "prediction") -> DataFrame:
    """2×2 (or k×k) confusion counts, fully distributed."""
    return pred_df.groupBy(label_col, pred_col).agg(F.count("*").alias("n"))


def binary_metrics(
    pred_df: DataFrame,
    label_col: str = "target",
    pred_col: str = "prediction",
    positive: float = 1.0,
) -> BinaryMetrics:
    """All scalar metrics from one distributed aggregation.

    Class-index deviation (documented): the reference reports
    ``precision_score/recall_score(average=None)[0]`` — i.e. the metrics
    of class **0** (PAC/passiveAgressiveModel.py:110-111), which is
    almost certainly an indexing accident rather than intent. The engine
    defaults to the conventional positive class (label 1.0); pass
    ``positive=0.0`` to reproduce the reference's CSV values exactly in
    a parity replay.
    """
    cells = {
        (float(r[label_col]), float(r[pred_col])): r["n"]
        for r in confusion_matrix(pred_df, label_col, pred_col).collect()
    }
    return binary_metrics_from_cells(cells, positive=positive)


def binary_metrics_from_cells(
    cells: dict[tuple[float, float], int], positive: float = 1.0
) -> BinaryMetrics:
    """Derive every scalar metric from pre-collected confusion cells
    ``{(label, prediction): count}`` — lets callers that already ran a
    combined aggregation (e.g. the streaming trainer's single
    metrics+stats job) skip a second Spark action."""
    neg = 0.0 if positive == 1.0 else 1.0
    tp = cells.get((positive, positive), 0)
    fn = cells.get((positive, neg), 0)
    fp = cells.get((neg, positive), 0)
    tn = cells.get((neg, neg), 0)
    n = tp + fp + tn + fn
    acc = (tp + tn) / n if n else 0.0
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    rmse = math.sqrt((fp + fn) / n) if n else 0.0  # binary 0/1: MSE = error rate
    return BinaryMetrics(n=n, tp=tp, fp=fp, tn=tn, fn=fn, accuracy=acc, precision=prec, recall=rec, f1=f1, rmse=rmse)
