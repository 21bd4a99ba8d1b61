"""Reference batch SOM in plain NumPy, used to check the engine's fits.

Written from the reference algorithm (Kohonen batch SOM as in
sparkml-som's ``SOM.scala``: exponential temperature decay, Gaussian
neighbourhood over Manhattan grid distance, topology-weighted mean
update, stop when no prototype moves more than ``tol``), not from the
engine's kernel module, so a kernel defect shows as a mismatch.
"""

from __future__ import annotations

import numpy as np


def fit(
    x: np.ndarray,
    init: np.ndarray,
    height: int,
    width: int,
    max_iter: int,
    tol: float,
    t_max: float = 10.0,
    t_min: float = 1.0,
) -> tuple[np.ndarray, list[float]]:
    """Return (prototypes, cost history) of a rectangular Gaussian
    batch SOM started from ``init``."""
    ids = np.arange(height * width)
    grid = (np.abs(ids[:, None] // width - ids[None, :] // width)
            + np.abs(ids[:, None] % width - ids[None, :] % width)).astype(np.float64)
    x_norm2 = (x * x).sum(axis=1)
    codebook = init.astype(np.float64).copy()
    history: list[float] = []
    for it in range(max_iter):
        frac = it / (max_iter - 1) if max_iter > 1 else 0.0
        temp = t_max * (t_min / t_max) ** frac
        bmu, d2 = nearest(x, codebook, x_norm2)
        history.append(float(d2.sum()))
        sums = np.zeros_like(codebook)
        np.add.at(sums, bmu, x)
        counts = np.bincount(bmu, minlength=len(codebook)).astype(np.float64)
        weights = np.exp(-(grid * grid) / (temp * temp))
        num, den = weights @ sums, weights @ counts
        new = codebook.copy()
        nz = den > 0
        new[nz] = num[nz] / den[nz, None]
        moved = float(((new - codebook) ** 2).sum(axis=1).max())
        codebook = new
        if moved <= tol * tol:
            break
    return codebook, history


def nearest(
    x: np.ndarray, codebook: np.ndarray, x_norm2: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Index of and squared distance to the nearest prototype per row."""
    if x_norm2 is None:
        x_norm2 = (x * x).sum(axis=1)
    d2 = x_norm2[:, None] + (codebook * codebook).sum(axis=1)[None, :] - 2.0 * (x @ codebook.T)
    np.maximum(d2, 0.0, out=d2)
    bmu = d2.argmin(axis=1)
    return bmu, d2[np.arange(len(bmu)), bmu]
