"""Pipeline metrics without extra jobs (G2/K6 re-expressed).

The reference materializes count branches for logging —
``.count.map(log.info)`` at ``MediationService.scala:106,130,134`` —
which on Beam are extra transforms over the data. Spark's
``observe()`` attaches named aggregates to the EXISTING plan: metrics
are folded into the running stages, cost no second scan or action, and
surface per micro-batch in ``StreamingQueryProgress.observedMetrics``
(streaming) or through ``Observation`` (batch).

At 100 TB this is the difference between "counts are free" and "every
logged count re-reads the input": observe-metrics ride the job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def _aliased(metrics: dict[str, Column]) -> list[Column]:
    return [col.alias(alias) for alias, col in metrics.items()]


def observe_metrics(
    df: DataFrame, name: str, metrics: dict[str, Column]
) -> DataFrame:
    """Attach named aggregate metrics to a (streaming) DataFrame.

    Each micro-batch reports ``{name: {metric: value}}`` in
    ``query.lastProgress["observedMetrics"]`` / ``recentProgress``.
    """
    return df.observe(name, *_aliased(metrics))


def observed_batch(
    df: DataFrame, name: str, metrics: dict[str, Column]
) -> tuple[DataFrame, Observation]:
    """Batch form: returns (df, observation); read ``observation.get``
    AFTER an action on the returned df has completed."""
    obs = Observation(name)
    return df.observe(obs, *_aliased(metrics)), obs


def validity_metrics(valid_col: str = "is_valid") -> dict[str, Column]:
    """The mediation pipeline's standard gate metrics (OK/KO counts).

    A NULL validity flag counts as KO (a gate that cannot prove a row
    valid must not pass it), so ``n_ok + n_ko == n_total`` always —
    the reconciliation these metrics exist for.
    """
    ok = F.coalesce(F.col(valid_col), F.lit(False))
    # coalesce(..., 0): sum() over an EMPTY micro-batch (e.g. the
    # no-data batch after a watermark move) is NULL, which would break
    # the invariant on every such batch.
    return {
        "n_total": F.count(F.lit(1)),
        "n_ok": F.coalesce(F.sum(F.when(ok, 1).otherwise(0)), F.lit(0)),
        "n_ko": F.coalesce(F.sum(F.when(~ok, 1).otherwise(0)), F.lit(0)),
    }
