"""numpy reference for the pipeline's preprocessing: upper-quartile
normalization, the q25 mean/variance gene filter and log2(x + 1).

Written from the reference formulas, independent of the package: the
per-sample factor is ``quantile(0.75)/sum`` over the genes whose mean
is above 0, symmetrized by its geometric mean (a zero factor counts as
1 in that mean); quantiles interpolate linearly, as pandas does; the
gene variance is the sample variance (ddof=1).
"""

from __future__ import annotations

import numpy as np


def preprocess(x: np.ndarray, q_uq: float = 0.75, q_filter: float = 0.25) -> tuple[np.ndarray, np.ndarray]:
    """``(kept gene columns of x, log2(normalized + 1) on them)``."""
    nonzero = np.flatnonzero(x.mean(axis=0) > 0.0)
    kept = x[:, nonzero]
    nf = np.quantile(kept, q_uq, axis=1) / kept.sum(axis=1)
    safe = np.where(nf == 0.0, 1.0, nf)
    scaled = kept * (nf / np.exp(np.mean(np.log(safe))))[:, None]
    means = scaled.mean(axis=0)
    variances = scaled.var(axis=0, ddof=1)
    keep = (means > np.quantile(means, q_filter)) & (variances > np.quantile(variances, q_filter))
    return nonzero[keep], np.log2(scaled[:, keep] + 1.0)


def max_relative_error(got: np.ndarray, want: np.ndarray) -> float:
    if got.shape != want.shape:
        return float("inf")
    scale = np.maximum(np.abs(want), 1e-300)
    return float(np.max(np.abs(got - want) / scale, initial=0.0))
