"""Output checks. Each compares what the engine wrote with a result
computed here, apart from the engine, and returns a list of problems
(empty when the outputs are right)."""
import duckdb
import numpy as np

import reference

# The engine sums up to 1e5 squared distances (each an exact integer below
# 2^53) in double precision and rounds to 4 decimals.
WSSSE_RTOL = 1e-9


def check(workload, seed, inp, out):
    if not out:
        return ["no repetition produced outputs"]
    return {"kmeans_ref": check_kmeans_ref,
            "graph_loops": check_graph_loops}[workload](seed, inp, out)


def check_kmeans_ref(seed, inp, out):
    pts, n, k, iters = inp["pts"], inp["n"], inp["k"], inp["iters"]
    problems = []
    init = pts[reference.seeded_init_positions(k, n, seed)]
    if not np.array_equal(np.asarray(out["init"]), init):
        problems.append("seeded init differs from the minstd_rand0 draw")
    want, _ = reference.int_lloyd(pts, init, iters)
    got = np.asarray(out["centroids"])
    if got.shape != want.shape or not np.array_equal(got, want):
        return problems + [f"final centroids differ: got {got.tolist()} "
                           f"want {want.tolist()}"]
    sizes = np.asarray(out["sizes"])
    if sizes.sum() != n:
        problems.append(f"cluster sizes sum to {sizes.sum()}, not {n}")
    lab, _ = reference.assign(pts, want)
    if not np.array_equal(sizes, np.bincount(lab, minlength=k)):
        problems.append("cluster sizes differ from the nearest-centroid counts")
    exact = reference.int_wssse(pts, want)
    if abs(out["wssse"] - exact) > WSSSE_RTOL * exact + 1e-3:
        problems.append(f"WSSSE {out['wssse']} vs exact {exact}")
    return problems + check_assignments(out["assign_dir"], pts, want)


def check_assignments(path, pts, cents):
    """The written (id, x, y, cid) rows, read back with DuckDB: n rows, each
    id once, exactly the input points, each in a nearest cluster."""
    n = len(pts)
    rows = duckdb.sql(f"SELECT id, x, y, cid FROM read_parquet('{path}/*/*.parquet', "
                      "hive_partitioning = true)").fetchnumpy()
    ids = np.unique(rows["id"])
    if len(rows["id"]) != n or len(ids) != n:
        return [f"assignments: {len(rows['id'])} rows, {len(ids)} distinct ids, want {n}"]
    xy = np.stack([rows["x"], rows["y"]], axis=1).astype(np.int64)
    problems = []
    if not np.array_equal(xy[np.lexsort(xy.T[::-1])], pts[np.lexsort(pts.T[::-1])]):
        problems.append("assigned points are not the input points")
    cid = rows["cid"].astype(np.int64)
    if cid.min() < 0 or cid.max() >= len(cents):
        return problems + ["cluster id out of range"]
    _, d = reference.assign(xy, cents)
    far = int((d[np.arange(n), cid] > d.min(axis=1)).sum())
    if far:
        problems.append(f"{far} rows not assigned to a nearest centroid")
    return problems


def canon(rel):
    """scripts/localcheck.py's canonical form: columns sorted by name,
    values stringified, rows sorted."""
    cols = sorted(rel.columns)
    df = rel.df()[cols]
    return cols, sorted(tuple(str(v) for v in r) for r in df.itertuples(index=False))


def check_graph_loops(seed, inp, out):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{inp['tables']}/lineitem.parquet'")
    problems = []
    for key in inp["keys"]:
        if key not in out:
            problems.append(f"{key}: no output")
            continue
        gc, gr = canon(con.sql(f"SELECT * FROM '{out[key]['dir']}/*.parquet'"))
        wc, wr = canon(con.sql(out[key]["oracle"]))
        if not gr:
            problems.append(f"{key}: no rows")
        elif gc != wc:
            problems.append(f"{key}: columns {gc} vs oracle {wc}")
        elif gr != wr:
            bad = next(i for i, (a, b) in enumerate(zip(gr + [None], wr + [None])) if a != b)
            problems.append(f"{key}: {len(gr)} rows vs oracle {len(wr)}; first "
                            f"difference at row {bad}")
    return problems
