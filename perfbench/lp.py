"""Inputs and answer checks of the two solver workloads.

`lp_solve`: sparse LPs whose optimum is planted by construction (the KKT
conditions hold at a chosen point x*, so c'x* is the optimal objective) and
small binary MIPs whose optimum is found here by enumeration.

`lp_model_sql`: the reference's network-flow assignment model
(network_flow_example.sql: 4 units from a source through two teams of three
workers to four tasks) with seeded worker-task costs, built one SQL
statement per variable, constraint and coefficient. Its optimum is found
here by enumerating the assignments.

Nothing here calls the engine; the checks take the engine's answers as plain
rows.
"""

import itertools
import random

INF = 1e30

# (rows, cols) of the planted LPs in one lp_solve round, then the MIPs. As
# many ops are faster than the small LPs (the MIPs) as are slower (the large
# LPs), so the median latency falls in the middle of the small group and the
# 90th percentile inside the large one: each is then a quantile over many
# seeded instances, not the cost of whichever instance sits near a group
# boundary.
LP_SIZES = [(50, 100)] * 28 + [(100, 200)] * 8
MIP_SIZES = [(4, 12), (3, 14), (4, 14), (5, 12)] * 2
NNZ_PER_COL = 3


def planted_lp(rng, name, m, n):
    """A sparse LP min c'x, L <= Ax <= U, 0 <= x <= u with a planted optimum.

    x* puts about a third of the columns at a bound and the rest strictly
    inside; half of the rows are active at x* with a dual of the right sign,
    the others are slack with dual 0; reduced costs are positive at lower
    bounds, negative at upper bounds and 0 inside. c = A'y + d then makes
    (x*, y) satisfy the KKT conditions, so c'x* is the optimum.
    """
    entries = {}
    for j in range(n):
        for i in rng.sample(range(m), NNZ_PER_COL):
            entries[(i, j)] = rng.choice([-1, 1]) * rng.randint(20, 100) / 100
    for i in range(m):
        if not any((i, j) in entries for j in range(n)):
            entries[(i, rng.randrange(n))] = rng.randint(20, 100) / 100
    ub = [rng.choice([10.0, 20.0, INF]) for _ in range(n)]
    inside = set(rng.sample(range(n), m // 2))
    x, d = [], []
    for j in range(n):
        if j in inside:
            hi = ub[j] if ub[j] < INF else 15.0
            x.append(round(rng.uniform(1.0, hi - 1.0), 3))
            d.append(0.0)
        elif ub[j] < INF and rng.random() < 0.4:
            x.append(ub[j])
            d.append(-round(rng.uniform(0.5, 2.0), 3))
        else:
            x.append(0.0)
            d.append(round(rng.uniform(0.5, 2.0), 3))
    act = [0.0] * m
    for (i, j), a in entries.items():
        act[i] += a * x[j]
    y, lo, hi = [], [], []
    for i in range(m):
        kind = rng.choice(["lower", "upper", "slack", "slack"] if i % 2 else ["lower", "upper", "equal"])
        if kind == "slack":
            y.append(0.0)
            lo.append(-INF if rng.random() < 0.3 else act[i] - rng.uniform(1, 5))
            hi.append(INF if rng.random() < 0.3 else act[i] + rng.uniform(1, 5))
        else:
            yi = round(rng.uniform(0.5, 2.0), 3)
            if kind == "lower":
                y.append(yi); lo.append(act[i]); hi.append(act[i] + rng.uniform(1, 5))
            elif kind == "upper":
                y.append(-yi); lo.append(act[i] - rng.uniform(1, 5)); hi.append(act[i])
            else:
                y.append(rng.choice([-1, 1]) * yi); lo.append(act[i]); hi.append(act[i])
    c = list(d)
    for (i, j), a in entries.items():
        c[j] += a * y[i]
    model = {
        "name": name,
        "vars": [[f"x{j}", 0.0, ub[j], c[j], "continuous"] for j in range(n)],
        "cons": [[f"r{i}", lo[i], hi[i]] for i in range(m)],
        "coefs": [[f"r{i}", f"x{j}", a] for (i, j), a in sorted(entries.items())],
    }
    return model, sum(cj * xj for cj, xj in zip(c, x)), x, d


def binary_mip(rng, name, m, n):
    """A multi-knapsack: min -value'x with m capacity rows over n binaries."""
    value = [rng.randint(1, 20) for _ in range(n)]
    w = [[rng.randint(1, 10) for _ in range(n)] for _ in range(m)]
    cap = [int(0.4 * sum(row)) for row in w]
    model = {
        "name": name,
        "vars": [[f"b{j}", 0.0, 1.0, -float(value[j]), "binary"] for j in range(n)],
        "cons": [[f"cap{i}", -INF, float(cap[i])] for i in range(m)],
        "coefs": [[f"cap{i}", f"b{j}", float(w[i][j])] for i in range(m) for j in range(n)],
    }
    return model, brute_force_mip(model)[0]


def brute_force_mip(model):
    """(smallest objective, a point reaching it) over the 0/1 points that
    satisfy every row."""
    names = [v[0] for v in model["vars"]]
    cost = [v[3] for v in model["vars"]]
    rows = {c[0]: [0.0] * len(names) for c in model["cons"]}
    for cn, vn, a in model["coefs"]:
        rows[cn][names.index(vn)] += a
    bounds = [(rows[c[0]], c[1], c[2]) for c in model["cons"]]
    best, point = None, None
    for bits in itertools.product((0, 1), repeat=len(names)):
        if all(lo <= sum(a for a, b in zip(row, bits) if b) <= hi for row, lo, hi in bounds):
            obj = sum(c for c, b in zip(cost, bits) if b)
            if best is None or obj < best:
                best, point = obj, bits
    return best, point


def lp_solve_inputs(seed):
    """One lp_solve round: a list of (model, optimal objective)."""
    rng = random.Random(seed * 1000003 + 1)
    out = [planted_lp(rng, f"lp{k}", m, n)[:2] for k, (m, n) in enumerate(LP_SIZES)]
    out += [binary_mip(rng, f"mip{k}", m, n) for k, (m, n) in enumerate(MIP_SIZES)]
    return out


# ------------------------------------------------------------ network flow

TEAM_A, TEAM_B, TASKS = (1, 3, 5), (2, 4, 6), (7, 8, 9, 10)
FLOW_INSTANCES = 1  # models per lp_model_sql round


def flow_model(costs):
    """The reference's flow network, in its variable/constraint/coefficient order."""
    vs = [("x_0_11", 0, 2, 0), ("x_0_12", 0, 2, 0)]
    vs += [(f"x_11_{w}", 0, 1, 0) for w in TEAM_A] + [(f"x_12_{w}", 0, 1, 0) for w in TEAM_B]
    vs += [(f"x_{w}_{t}", 0, 1, costs[(w, t)]) for w in range(1, 7) for t in TASKS]
    vs += [(f"x_{t}_13", 0, 1, 0) for t in TASKS]
    cs = [("source_flow", 4, 4), ("team_a_flow", 0, 0), ("team_b_flow", 0, 0)]
    cs += [(f"worker_{w}_flow", 0, 0) for w in range(1, 7)]
    cs += [(f"task_{t}_flow", 0, 0) for t in TASKS] + [("sink_flow", 4, 4)]
    ks = [("source_flow", "x_0_11", 1), ("source_flow", "x_0_12", 1)]
    ks += [("team_a_flow", "x_0_11", 1)] + [("team_a_flow", f"x_11_{w}", -1) for w in TEAM_A]
    ks += [("team_b_flow", "x_0_12", 1)] + [("team_b_flow", f"x_12_{w}", -1) for w in TEAM_B]
    for w in range(1, 7):
        ks.append((f"worker_{w}_flow", f"x_11_{w}" if w in TEAM_A else f"x_12_{w}", 1))
        ks += [(f"worker_{w}_flow", f"x_{w}_{t}", -1) for t in TASKS]
    for t in TASKS:
        ks += [(f"task_{t}_flow", f"x_{w}_{t}", 1) for w in range(1, 7)] + [(f"task_{t}_flow", f"x_{t}_13", -1)]
    ks += [("sink_flow", f"x_{t}_13", 1) for t in TASKS]
    return vs, cs, ks


def brute_force_flow(costs):
    """(cost, workers of tasks 7..10) of the cheapest assignment of the four
    tasks to distinct workers, at most two per team (each team's source arc
    carries at most 2 units)."""
    best = None
    for ws in itertools.permutations(range(1, 7), len(TASKS)):
        if sum(w in TEAM_A for w in ws) <= 2 and sum(w in TEAM_B for w in ws) <= 2:
            cost = sum(costs[(w, t)] for w, t in zip(ws, TASKS))
            if best is None or cost < best[0]:
                best = (cost, ws)
    return best


def _num(v):
    return repr(float(v)) if abs(v) < INF else ("1e30" if v > 0 else "-1e30")


def total_cost_sql(model, costs):
    """The reference's downstream SQL: CTE, LIKE filters, CASE cost map, SUM."""
    arms = "\n          ".join(f"WHEN 'x_{w}_{t}' THEN {c} * solution_value"
                                for (w, t), c in sorted(costs.items()))
    return f"""WITH cost_vars AS (
        SELECT variable_name, solution_value FROM highs_solve('{model}')
        WHERE solution_value > 0
          AND variable_name LIKE 'x!_%!_%' ESCAPE '!'
          AND variable_name NOT LIKE 'x!_0!_%' ESCAPE '!'
          AND variable_name NOT LIKE 'x!_%!_13' ESCAPE '!'
          AND variable_name NOT LIKE 'x!_11!_%' ESCAPE '!'
          AND variable_name NOT LIKE 'x!_12!_%' ESCAPE '!'
      ),
      cost_calculation AS (
        SELECT CASE variable_name
          {arms}
          ELSE 0 END AS cost_contribution
        FROM cost_vars
      )
      SELECT 'Total cost = ' || CAST(SUM(cost_contribution) AS INT) AS result
      FROM cost_calculation"""


def lp_model_sql_inputs(seed):
    """One lp_model_sql round: FLOW_INSTANCES seeded flow models, each a list
    of statements; returns (ops, instances) where every op is a dict for the
    plan and instances hold what the checks need."""
    rng = random.Random(seed * 1000003 + 2)
    ops, instances = [], []
    for k in range(FLOW_INSTANCES):
        name = f"nf{k}"
        costs = {(w, t): rng.randint(30, 130) for w in range(1, 7) for t in TASKS}
        vs, cs, ks = flow_model(costs)
        first = len(ops)
        for v in vs:
            ops.append({"kind": "sql", "check": ["var", name, v[0], vs.index(v)],
                        "sql": f"SELECT * FROM highs_create_variables('{name}', '{v[0]}', "
                               f"{_num(v[1])}, {_num(v[2])}, {_num(v[3])}, 'continuous')"})
        for i, c in enumerate(cs):
            ops.append({"kind": "sql", "check": ["con", name, c[0], i],
                        "sql": f"SELECT * FROM highs_create_constraints('{name}', '{c[0]}', "
                               f"{_num(c[1])}, {_num(c[2])})"})
        for cn, vn, a in ks:
            ops.append({"kind": "sql", "check": ["coef", name, cn, vn, a],
                        "sql": f"SELECT * FROM highs_set_coefficients('{name}', '{cn}', '{vn}', {_num(a)})"})
        ops[first]["reset_model"] = name
        ops.append({"kind": "sql", "check": ["flow", k], "solves": name,
                    "sql": f"SELECT * FROM highs_solve('{name}')"})
        ops.append({"kind": "sql", "check": ["total", k], "sql": total_cost_sql(name, costs)})
        instances.append({"name": name, "vars": vs, "cons": cs, "coefs": ks,
                          "optimum": brute_force_flow(costs)[0]})
    return ops, instances


# ------------------------------------------------------------------ checks

TOL = 1e-6


def check_solution(model, optimum, rows, lp):
    """Errors in one highs_solve answer (rows of variable_name,
    variable_index, solution_value, reduced_cost, status), or []."""
    vars_ = model["vars"]
    if len(rows) != len(vars_):
        return [f"{model['name']}: {len(rows)} rows for {len(vars_)} variables"]
    errs = []
    x = {}
    for k, (v, r) in enumerate(zip(vars_, rows)):
        name, index, value, rc, status = r
        if name != v[0] or index != f"{v[0]}_{k}":
            errs.append(f"{model['name']}: row {k} is {name}/{index}")
        if status != "Optimal":
            errs.append(f"{model['name']}: status {status}")
            break
        x[name] = value
        lo, hi = v[1], v[2]
        tol = TOL * (1 + abs(value))
        if value < lo - tol or value > hi + tol:
            errs.append(f"{model['name']}: {name}={value} outside [{lo}, {hi}]")
        if lp:
            at_lo, at_hi = abs(value - lo) <= tol, hi < INF and abs(value - hi) <= tol
            if at_lo and not at_hi and rc < -TOL:
                errs.append(f"{model['name']}: {name} at lower bound with reduced cost {rc}")
            elif at_hi and not at_lo and rc > TOL:
                errs.append(f"{model['name']}: {name} at upper bound with reduced cost {rc}")
            elif not at_lo and not at_hi and abs(rc) > TOL:
                errs.append(f"{model['name']}: {name} inside its bounds with reduced cost {rc}")
        elif abs(value - round(value)) > TOL:
            errs.append(f"{model['name']}: integer {name}={value}")
    if errs:
        return errs[:5]
    act = {c[0]: 0.0 for c in model["cons"]}
    for cn, vn, a in model["coefs"]:
        act[cn] += a * x[vn]
    for cn, lo, hi in model["cons"]:
        tol = TOL * (1 + abs(act[cn]))
        if act[cn] < lo - tol or act[cn] > hi + tol:
            errs.append(f"{model['name']}: row {cn} = {act[cn]} outside [{lo}, {hi}]")
    obj = sum(v[3] * x[v[0]] for v in vars_)
    if abs(obj - optimum) > TOL * (1 + abs(optimum)):
        errs.append(f"{model['name']}: objective {obj}, optimum {optimum}")
    return errs[:5]


def flow_as_model(inst):
    return {"name": inst["name"],
            "vars": [[n, lo, hi, c, "continuous"] for n, lo, hi, c in inst["vars"]],
            "cons": [list(c) for c in inst["cons"]],
            "coefs": [list(k) for k in inst["coefs"]]}


def check_model_sql(check, rows, instances):
    """Errors in one lp_model_sql statement's answer, or []."""
    what = check[0]
    if what in ("var", "con"):
        _, model, name, k = check
        want = [[name, f"{name}_{k}", "SUCCESS"]]
        return [] if rows == want else [f"{model}: {what} {name} returned {rows}, want {want}"]
    if what == "coef":
        _, model, cn, vn, a = check
        want = [[cn, vn, float(a), "SUCCESS"]]
        return [] if rows == want else [f"{model}: coefficient {cn}/{vn} returned {rows}, want {want}"]
    inst = instances[check[1]]
    if what == "flow":
        return check_solution(flow_as_model(inst), inst["optimum"], rows, lp=True)
    want = [[f"Total cost = {inst['optimum']}"]]
    return [] if rows == want else [f"{inst['name']}: total cost {rows}, want {want}"]
