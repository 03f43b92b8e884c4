"""Seeded input generators. The same seed always gives the same inputs."""
import numpy as np
import pandas as pd

GRID = 10            # blobs per axis: a 10x10 grid, Birch-shaped
SPAN = 1_000_000     # coordinates lie in [0, SPAN]
SIGMA = 15_000.0     # blob standard deviation, per axis
MASK = 0xFFFFFFFFFFFFFFFF


def birch_points(n, seed):
    """n integer points in GRID*GRID Gaussian blobs, in seeded shuffled order.

    Returns an (n, 2) int64 array; row order is the file order."""
    rng = np.random.default_rng([seed & MASK, 0xB1C4])
    blob = rng.integers(0, GRID * GRID, n)
    step = SPAN / GRID
    cx = (blob % GRID + 0.5) * step
    cy = (blob // GRID + 0.5) * step
    x = np.rint(rng.normal(cx, SIGMA)).clip(0, SPAN)
    y = np.rint(rng.normal(cy, SIGMA)).clip(0, SPAN)
    return np.stack([x, y], axis=1).astype(np.int64)


def write_points(path, pts):
    """The reference's input format: one `x y` pair per line."""
    pd.DataFrame(pts).to_csv(path, sep=" ", header=False, index=False)
