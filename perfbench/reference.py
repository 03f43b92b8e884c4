"""Independent re-derivations of the engine's K-means results: a port of
libstdc++'s minstd_rand0 and uniform_int_distribution and an exact integer
Lloyd with cycle resolution. Nothing here calls the engine."""
import numpy as np

MINSTD_MOD = 2_147_483_647   # 2^31 - 1
MINSTD_MULT = 16_807


class MinstdRand0:
    """libstdc++ std::minstd_rand0 (x' = 16807 x mod 2^31-1)."""

    def __init__(self, seed):
        s = (seed & 0xFFFFFFFFFFFFFFFF) % MINSTD_MOD
        self.state = s if s != 0 else 1

    def raw(self):
        self.state = self.state * MINSTD_MULT % MINSTD_MOD
        return self.state

    def uniform_int(self, hi):
        """std::uniform_int_distribution<int>(0, hi): libstdc++ downscaling
        with rejection of the top partial bucket."""
        urng_range = MINSTD_MOD - 2      # engine max - engine min
        urange = hi + 1
        scaling = urng_range // urange
        past = urange * scaling
        while True:
            r = self.raw() - 1
            if r < past:
                return r // scaling


def seeded_init_positions(k, n, seed):
    """File positions of the k initial centroids: k draws of
    uniform_int(0, n), the inclusive bound clamped to n - 1."""
    rng = MinstdRand0(seed)
    return [min(rng.uniform_int(n), n - 1) for _ in range(k)]


def assign(pts, cents):
    """(nearest centroid index, n x k squared distances); argmin keeps the
    first, i.e. lowest, index on ties."""
    d = np.empty((len(pts), len(cents)), dtype=pts.dtype)
    for j, (cx, cy) in enumerate(cents):
        d[:, j] = (pts[:, 0] - cx) ** 2 + (pts[:, 1] - cy) ** 2
    return d.argmin(axis=1), d


def int_lloyd_step(pts, cents):
    """One integer Lloyd round: nearest centroid (lowest index on ties),
    truncating integer mean, empty clusters keep their centroid."""
    lab, _ = assign(pts, cents)
    k = len(cents)
    cnt = np.bincount(lab, minlength=k)
    sx = np.zeros(k, dtype=np.int64)
    sy = np.zeros(k, dtype=np.int64)
    np.add.at(sx, lab, pts[:, 0])
    np.add.at(sy, lab, pts[:, 1])
    out = cents.copy()
    live = cnt > 0
    out[live, 0] = sx[live] // cnt[live]
    out[live, 1] = sy[live] // cnt[live]
    return out


def int_lloyd(pts, init, iterations, step=int_lloyd_step):
    """The state after exactly `iterations` rounds of `step`. The step is a
    function of the state alone, so the trajectory is eventually periodic:
    once a state repeats, the state at any later round is read off the
    recorded cycle. Returns (centroids, distinct states visited)."""
    states = [np.asarray(init, dtype=np.int64)]
    index = {states[0].tobytes(): 0}
    while len(states) - 1 < iterations:
        nxt = step(pts, states[-1])
        key = nxt.tobytes()
        if key in index:
            start = index[key]
            period = len(states) - start
            return states[start + (iterations - start) % period], len(states)
        index[key] = len(states)
        states.append(nxt)
    return states[iterations], len(states)


def int_wssse(pts, cents):
    """Exact integer sum of squared distances to the nearest centroid."""
    _, d = assign(pts, cents)
    return int(d.min(axis=1).sum())
