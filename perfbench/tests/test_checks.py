"""Each workload's output check passes on right outputs and fails on a
perturbed centroid, a dropped output row and a wrong row.

    python3 -m pytest perfbench/tests
"""
import copy
import os
import shutil
import sys
import tempfile
import unittest

import duckdb
import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import checks  # noqa: E402
import inputs  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402


class KMeansRefCheckTest(unittest.TestCase):
    SEED = 5

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        n, k, iters = 2000, 15, 999
        pts = inputs.birch_points(n, self.SEED)
        init = pts[reference.seeded_init_positions(k, n, self.SEED)]
        cents, _ = reference.int_lloyd(pts, init, iters)
        lab, _ = reference.assign(pts, cents)
        self.inp = dict(pts=pts, n=n, k=k, iters=iters)
        self.out = dict(init=init.tolist(), centroids=cents.astype(float).tolist(),
                        sizes=np.bincount(lab, minlength=k).tolist(),
                        wssse=float(reference.int_wssse(pts, cents)),
                        assign_dir=os.path.join(self.tmp.name, "assign"))
        self.rows = dict(id=np.arange(n) * 3 + 1, x=pts[:, 0].astype(np.float64),
                         y=pts[:, 1].astype(np.float64), cid=lab.astype(np.int32))
        self.write(self.rows)

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, rows):
        """The engine's layout: one directory per cluster id."""
        con = duckdb.connect()
        con.register("rows", pa.table(rows))
        con.sql(f"COPY rows TO '{self.out['assign_dir']}' "
                "(FORMAT PARQUET, PARTITION_BY (cid), OVERWRITE_OR_IGNORE)")

    def problems(self, out=None):
        return checks.check("kmeans_ref", self.SEED, self.inp, out or self.out)

    def changed(self, key, edit):
        out = copy.deepcopy(self.out)
        edit(out[key])
        return self.problems(out)

    def test_right_outputs_pass(self):
        self.assertEqual(self.problems(), [])

    def test_perturbed_centroid_fails(self):
        self.assertTrue(self.changed("centroids", lambda c: c[3].__setitem__(1, c[3][1] + 1)))

    def test_dropped_point_in_the_sizes_fails(self):
        self.assertTrue(self.changed("sizes", lambda s: s.__setitem__(0, s[0] - 1)))

    def test_wrong_wssse_fails(self):
        out = copy.deepcopy(self.out)
        out["wssse"] *= 1 + 1e-6
        self.assertTrue(self.problems(out))

    def test_wrong_init_fails(self):
        self.assertTrue(self.changed("init", lambda i: i.reverse()))

    def rewritten(self, edit):
        rows = {c: v.copy() for c, v in self.rows.items()}
        edit(rows)
        shutil.rmtree(self.out["assign_dir"])
        self.write(rows)
        return self.problems()

    def test_dropped_assignment_row_fails(self):
        self.assertTrue(self.rewritten(lambda r: r.update({c: v[1:] for c, v in r.items()})))

    def test_assignment_in_the_wrong_cluster_fails(self):
        def move(r):
            r["cid"][7] = (r["cid"][7] + 1) % self.inp["k"]
        self.assertTrue(self.rewritten(move))

    def test_duplicate_id_fails(self):
        def dup(r):
            r["id"][1] = r["id"][0]
        self.assertTrue(self.rewritten(dup))

    def test_wrong_point_fails(self):
        def shift(r):
            r["x"][4] += 1
        self.assertTrue(self.rewritten(shift))


class GraphLoopsCheckTest(unittest.TestCase):
    ORACLE = ("SELECT l_partkey AS part, count(*) AS n FROM lineitem "
              "GROUP BY l_partkey")

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        tables = run.GRAPH_TABLES
        self.inp = dict(tables=tables, keys=["deg"])
        self.con = duckdb.connect()
        self.con.sql(f"CREATE VIEW lineitem AS SELECT * FROM "
                     f"'{tables}/lineitem.parquet'")

    def tearDown(self):
        self.tmp.cleanup()

    def engine_output(self, sql):
        out = os.path.join(self.tmp.name, "out")
        os.makedirs(out, exist_ok=True)
        self.con.sql(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT PARQUET)")
        return {"deg": {"dir": out, "oracle": self.ORACLE}}

    def test_matching_rows_pass(self):
        out = self.engine_output(self.ORACLE + " ORDER BY n")
        self.assertEqual(checks.check("graph_loops", 0, self.inp, out), [])

    def test_dropped_row_fails(self):
        out = self.engine_output(self.ORACLE + " ORDER BY part LIMIT 199")
        self.assertTrue(checks.check("graph_loops", 0, self.inp, out))

    def test_wrong_oracle_row_fails(self):
        out = self.engine_output(self.ORACLE)
        out["deg"]["oracle"] = self.ORACLE.replace(
            "count(*)", "count(*) + (l_partkey = 4)::INT")
        self.assertTrue(checks.check("graph_loops", 0, self.inp, out))

    def test_missing_key_fails(self):
        self.assertTrue(checks.check("graph_loops", 0, self.inp, {"x": {}}))


if __name__ == "__main__":
    unittest.main()
