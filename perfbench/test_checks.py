"""Tests of the benchmark's answer checks: each accepts a right answer and
rejects one corrupted answer. No engine is needed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import copy
import json
import os
import random
import tempfile
import unittest

import etl
import lp
import run


def solve_rows(model, x, rc, status="Optimal"):
    return [[v[0], f"{v[0]}_{k}", x[k], rc[k], status] for k, v in enumerate(model["vars"])]


class PlantedLp(unittest.TestCase):
    def setUp(self):
        self.model, self.opt, self.x, self.d = lp.planted_lp(random.Random(5), "t", 30, 60)
        self.rows = solve_rows(self.model, self.x, self.d)

    def test_planted_point_passes(self):
        self.assertEqual(lp.check_solution(self.model, self.opt, self.rows, lp=True), [])

    def test_planted_point_satisfies_its_rows(self):
        act = {c[0]: 0.0 for c in self.model["cons"]}
        for cn, vn, a in self.model["coefs"]:
            act[cn] += a * self.x[int(vn[1:])]
        for cn, lo, hi in self.model["cons"]:
            self.assertTrue(lo - 1e-9 <= act[cn] <= hi + 1e-9)

    def test_wrong_status(self):
        rows = solve_rows(self.model, self.x, self.d, status="Unknown")
        self.assertTrue(lp.check_solution(self.model, self.opt, rows, lp=True))

    def test_worse_objective(self):
        rows = copy.deepcopy(self.rows)
        j = next(k for k, r in enumerate(rows) if r[2] == 0.0 and r[3] > 0)
        rows[j][2] = 1e-3  # off its lower bound: costs more and breaks rows
        self.assertTrue(lp.check_solution(self.model, self.opt, rows, lp=True))

    def test_reduced_cost_sign(self):
        rows = copy.deepcopy(self.rows)
        j = next(k for k, r in enumerate(rows) if r[2] == 0.0 and r[3] > 0)
        rows[j][3] = -rows[j][3]
        errs = lp.check_solution(self.model, self.opt, rows, lp=True)
        self.assertTrue(any("reduced cost" in e for e in errs))

    def test_infeasible_point(self):
        rows = copy.deepcopy(self.rows)
        rows[0][2] = -5.0
        self.assertTrue(lp.check_solution(self.model, self.opt, rows, lp=True))

    def test_wrong_index(self):
        rows = copy.deepcopy(self.rows)
        rows[1][1] = "x1_7"
        self.assertTrue(lp.check_solution(self.model, self.opt, rows, lp=True))


class BinaryMip(unittest.TestCase):
    def setUp(self):
        self.model, self.opt = lp.binary_mip(random.Random(7), "m", 3, 10)
        _, bits = lp.brute_force_mip(self.model)
        self.rows = solve_rows(self.model, [float(b) for b in bits], [0.0] * len(bits))

    def test_optimum_passes(self):
        self.assertEqual(lp.check_solution(self.model, self.opt, self.rows, lp=False), [])

    def test_suboptimal_point(self):
        rows = copy.deepcopy(self.rows)
        j = next(k for k, r in enumerate(rows) if r[2] == 1.0)
        rows[j][2] = 0.0  # still feasible (capacity rows only), but worse
        errs = lp.check_solution(self.model, self.opt, rows, lp=False)
        self.assertTrue(any("objective" in e for e in errs))

    def test_fractional_value(self):
        rows = copy.deepcopy(self.rows)
        rows[0][2] = 0.5
        self.assertTrue(lp.check_solution(self.model, self.opt, rows, lp=False))


class NetworkFlow(unittest.TestCase):
    def setUp(self):
        ops, self.instances = lp.lp_model_sql_inputs(3)
        self.checks = [op["check"] for op in ops]
        rng = random.Random(3 * 1000003 + 2)
        costs = {(w, t): rng.randint(30, 130) for w in range(1, 7) for t in lp.TASKS}
        self.cost, workers = lp.brute_force_flow(costs)
        flow = {f"x_{w}_{t}": 1.0 for w, t in zip(workers, lp.TASKS)}
        for w in workers:
            flow[f"x_11_{w}" if w in lp.TEAM_A else f"x_12_{w}"] = 1.0
        flow["x_0_11"] = float(sum(w in lp.TEAM_A for w in workers))
        flow["x_0_12"] = float(sum(w in lp.TEAM_B for w in workers))
        for t in lp.TASKS:
            flow[f"x_{t}_13"] = 1.0
        # Reduced costs of 0 everywhere satisfy the sign rule at any point;
        # the objective and the flow rows are what this answer is judged on.
        model = lp.flow_as_model(self.instances[0])
        self.flow_rows = solve_rows(model, [flow.get(v[0], 0.0) for v in model["vars"]], [0.0] * len(model["vars"]))

    def answer(self, check):
        what = check[0]
        if what in ("var", "con"):
            return [[check[2], f"{check[2]}_{check[3]}", "SUCCESS"]]
        if what == "coef":
            return [[check[2], check[3], float(check[4]), "SUCCESS"]]
        if what == "flow":
            return self.flow_rows
        return [[f"Total cost = {self.cost}"]]

    def test_right_answers_pass(self):
        self.assertEqual(self.instances[0]["optimum"], self.cost)
        for c in self.checks:
            self.assertEqual(lp.check_model_sql(c, self.answer(c), self.instances), [], c)

    def test_create_index_out_of_order(self):
        c = next(c for c in self.checks if c[0] == "var" and c[3] == 5)
        rows = [[c[2], f"{c[2]}_4", "SUCCESS"]]
        self.assertTrue(lp.check_model_sql(c, rows, self.instances))

    def test_error_row(self):
        c = next(c for c in self.checks if c[0] == "coef")
        rows = [[c[2], c[3], float(c[4]), "ERROR: Model 'nf0' not found"]]
        self.assertTrue(lp.check_model_sql(c, rows, self.instances))

    def test_wrong_total_cost(self):
        c = next(c for c in self.checks if c[0] == "total")
        self.assertTrue(lp.check_model_sql(c, [[f"Total cost = {self.cost + 1}"]], self.instances))

    def test_broken_flow(self):
        c = next(c for c in self.checks if c[0] == "flow")
        rows = copy.deepcopy(self.flow_rows)
        k = next(i for i, r in enumerate(rows) if r[0].endswith("_13"))
        rows[k][2] = 0.0  # a task no longer reaches the sink
        self.assertTrue(lp.check_model_sql(c, rows, self.instances))


class EtlRows(unittest.TestCase):
    want = [["1-URGENT", "F", 367, 56217762.45999999], ["2-HIGH", "O", 341, 52080525.65]]

    def test_same_rows_pass(self):
        got = [["1-URGENT", "F", 367, 56217762.46], ["2-HIGH", "O", 341, 52080525.649999976]]
        self.assertEqual(etl.check_rows(self.want, got), [])

    def test_wrong_value(self):
        got = [["1-URGENT", "F", 368, 56217762.46], ["2-HIGH", "O", 341, 52080525.65]]
        self.assertTrue(etl.check_rows(self.want, got))

    def test_missing_row(self):
        self.assertTrue(etl.check_rows(self.want, self.want[:1]))

    def test_dml_count(self):
        self.assertTrue(etl.check_rows([[1008]], [[1007]]))


class EtlReference(unittest.TestCase):
    def test_reference_runs_every_statement(self):
        with tempfile.TemporaryDirectory() as d:
            etl.reference(1, os.path.join(d, "ref.json"))
            with open(os.path.join(d, "ref.json")) as f:
                results = json.load(f)["results"]
        kinds = [k for k, _ in etl.script(1)]
        self.assertEqual(len(results), len(kinds))
        for k, r in zip(kinds, results):
            self.assertEqual(r is None, k == "explain")


class ExplainVerdict(unittest.TestCase):
    op = {"kind": "explain"}

    def test_planning_error_text_is_a_failure(self):
        rec = {"ok": True, "rows": [["Error occurred during query planning: "], ["[INTERNAL_ERROR] x"]]}
        self.assertTrue(run.op_failed(self.op, rec))

    def test_exception_is_a_failure(self):
        self.assertTrue(run.op_failed(self.op, {"ok": False, "error": "boom"}))

    def test_plan_is_a_success(self):
        rec = {"ok": True, "rows": [["== Physical Plan ==\nLocalTableScan [k#1]"]]}
        self.assertFalse(run.op_failed(self.op, rec))


class Percentile(unittest.TestCase):
    def test_interpolates(self):
        self.assertEqual(run.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertAlmostEqual(run.percentile(list(range(1, 11)), 0.9), 9.1)


if __name__ == "__main__":
    unittest.main()
