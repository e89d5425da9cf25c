"""Runs one benchmark workload against the engine and prints its metrics.

    python3 perfbench/run.py --workload lp_solve --seed 1 --seconds 20 --trace 0

Run from the repository root. The engine and the benchmark's client are
built first when their sources changed (build.py). The workload's inputs and
the answers it must produce are made from the seed here, without the engine;
the client (harness/src) runs the operations in one JVM and records
latencies and answers; this script checks the answers and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the listeners are on and the
metrics are the per-layer ones, which are also written, with the tracing
overhead, to perfbench/out/<workload>-seed<seed>-trace.json.
"""

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import etl  # noqa: E402
import lp  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
# lp_model_sql runs here but is not among BENCHMARK.json's workloads: with it
# the benchmark's acceptance runs would not fit their time budget (README.md).
WORKLOADS = ("lp_solve", "lp_model_sql", "sql_etl")
CORES = min(4, len(os.sched_getaffinity(0)))  # the CPUs this process may run on, as nproc counts
# Untimed warm-up rounds before the window. A fixed count, not a fixed time,
# so that every run starts its window with the JIT having seen the same work.
WARMUP_ROUNDS = {"lp_solve": 3, "lp_model_sql": 4, "sql_etl": 1}
# Every timed window is whole rounds, at least --seconds long, and at least
# (operations, rounds) as below. A fixed floor of rounds keeps what the 90th
# percentile samples the same from run to run. A sql_etl pass of 13
# statements that do not fail takes 9-14 s, so 100 of them would need a
# 70-110 s window; it runs three passes instead.
MINIMUM = {"lp_solve": (100, 1), "lp_model_sql": (100, 5), "sql_etl": (1, 3)}
JVM_TIMEOUT_S = 170
JVM_FLAGS = ["-Xmx2g", "-Xss4m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


# ------------------------------------------------------------------ inputs

def make_inputs(workload, seed, work):
    """Returns (plan fields, oracle) for one seed; cached under work/."""
    path = os.path.join(work, "inputs.json")
    if os.path.exists(path):
        with open(path) as f:
            d = json.load(f)
        return d["plan"], d["oracle"]
    os.makedirs(work, exist_ok=True)
    plan = {"tables": {}, "setup_sql": []}
    if workload == "lp_solve":
        models = lp.lp_solve_inputs(seed)
        plan["round"] = [{"kind": "model", "model": m} for m, _ in models]
        oracle = {"optima": [opt for _, opt in models]}
    elif workload == "lp_model_sql":
        ops, instances = lp.lp_model_sql_inputs(seed)
        plan["round"] = [{k: v for k, v in op.items() if k != "check"} for op in ops]
        oracle = {"checks": [op["check"] for op in ops], "instances": instances}
    else:
        ref = os.path.join(work, "duckdb.json")
        etl.reference(seed, ref)
        plan["tables"] = {t: etl.DATA_DIR for t in etl.TABLES}  # name -> directory of <name>.parquet
        plan["setup_sql"] = [etl.EXPLAIN_SETUP]
        plan["round"] = [{"kind": "explain" if k == "explain" else "sql", "sql": s, "class": k}
                         for k, s in etl.script(seed)]
        with open(ref) as f:
            oracle = {"results": json.load(f)["results"]}
    with open(path + ".tmp", "w") as f:
        json.dump({"plan": plan, "oracle": oracle}, f)
    os.replace(path + ".tmp", path)
    return plan, oracle


# ------------------------------------------------------------------ checks

def op_failed(op, rec):
    """An operation fails when it throws, or when an EXPLAIN returns no plan."""
    if not rec["ok"]:
        return True
    if op["kind"] == "explain":
        text = "\n".join(str(c) for r in rec["rows"] for c in r)
        return "== Physical Plan ==" not in text or "Error occurred" in text
    return False


def check(workload, round_ops, oracle, recs):
    """Errors in the answers of the operations that did not fail."""
    errs = []
    for rec in recs:
        op = round_ops[rec["i"]]
        if op_failed(op, rec):
            if op["kind"] != "explain":
                errs.append(f"op {rec['i']} failed: {rec.get('error', rec.get('rows'))}")
            continue
        rows = rec["rows"]
        if workload == "lp_solve":
            model = op["model"]
            lp_model = model["vars"][0][4] == "continuous"
            e = lp.check_solution(model, oracle["optima"][rec["i"]], rows, lp_model)
        elif workload == "lp_model_sql":
            e = lp.check_model_sql(oracle["checks"][rec["i"]], rows, oracle["instances"])
        elif op["kind"] == "explain":
            e = []
        else:
            e = etl.check_rows(oracle["results"][rec["i"]], rows)
        errs += [f"op {rec['i']} (round {rec['round']}): {x}" for x in e]
    return errs


# ----------------------------------------------------------------- metrics

def percentile(xs, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(answers, ok_ns, heap_mb):
    window_s = answers["window_ns"] / 1e9
    lat = [ns / 1e6 for ns in ok_ns]
    return {
        "setup_s": {"value": answers["setup_ms"] / 1000, "unit": "s"},
        "ops_per_s": {"value": len(lat) / window_s, "unit": "op/s"},
        "latency_p50_ms": {"value": percentile(lat, 0.5), "unit": "ms"},
        "latency_p90_ms": {"value": percentile(lat, 0.9), "unit": "ms"},
        "retained_heap_mb": {"value": heap_mb, "unit": "MB"},
    }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def per_layer(workload, round_ops, answers, ok):
    """Per-layer figures of a traced run. Medians and means are over the timed
    operations that did not fail; "/op" figures are totals over every timed
    operation, failed ones included, divided by their number, as the JVM's
    window-wide counters are. Spark's planning tracker and job events carry
    whole milliseconds, so figures built on them are means, not medians."""
    recs = [r for r, good in zip(answers["timed"], ok) if good]
    n = len(answers["timed"])
    tr = [r["trace"] for r in recs]

    def tot(key):
        return sum(r["trace"].get(key, 0) for r in answers["timed"])

    phased = [t for t in tr if "analysis_ms" in t]
    parse_ms = [t["parse_ns"] / 1e6 for t in tr]
    kinds = [round_ops[r["i"]].get("class") for r in recs]
    write_ms = [r["ns"] / 1e6 for r, k in zip(recs, kinds) if k == "write"]
    read_ms = [r["ns"] / 1e6 for r, k in zip(recs, kinds) if k == "read"]
    solved = [t for t in tr if "solve_ns" in t]
    lps = [t for t in solved if "lp_iterations" in t]
    mips = [t for t in solved if "mip_nodes" in t]
    if workload == "lp_solve":
        build_ms = [t["build_ns"] / 1e6 for t in tr]
    elif workload == "lp_model_sql":
        # Building a model is its create/set statements, from the reset to the solve.
        build_ms, cur = [], None
        for r in recs:
            op = round_ops[r["i"]]
            if "reset_model" in op:
                cur = 0.0
            if "solves" in op and cur is not None:
                build_ms.append(cur)
                cur = None
            elif cur is not None:
                cur += r["ns"] / 1e6
    else:
        build_ms = []
    jvm = answers["jvm"]
    m = {
        "sql.parse_ms": (_median(parse_ms), "ms"),
        "catalyst.analysis_ms": (_mean([t["analysis_ms"] for t in phased]), "ms"),
        "catalyst.optimization_ms": (_mean([t["optimization_ms"] for t in phased]), "ms"),
        "catalyst.planning_ms": (_mean([t["planning_ms"] for t in phased]), "ms"),
        "exec.outside_jobs_ms": (_mean([t["outside_ms"] for t in tr if "outside_ms" in t]), "ms"),
        "codegen.compiles_per_op": (tot("codegen_compiles") / n, "count"),
        "spark.jobs_per_op": (tot("jobs") / n, "count"),
        "spark.tasks_per_op": (tot("tasks") / n, "count"),
        "spark.job_span_ms_per_op": (tot("job_span_ms") / n, "ms"),
        "spark.task_run_ms_per_op": (tot("task_run_ms") / n, "ms"),
        "spark.executor_cpu_ms_per_op": (tot("executor_cpu_ns") / 1e6 / n, "ms"),
        "spark.shuffle_write_bytes_per_op": (tot("shuffle_write_bytes") / n, "B"),
        "spark.spill_bytes_per_op": (tot("spill_bytes") / n, "B"),
        "spark.output_bytes_per_op": (tot("output_bytes") / n, "B"),
        "temp.write_stmt_ms": (_median(write_ms), "ms"),
        "temp.read_stmt_ms": (_median(read_ms), "ms"),
        "highs.build_ms_per_model": (_median(build_ms), "ms"),
        "highs.solve_overhead_ms": (_median([t["statement_ns"] / 1e6 for t in solved]), "ms"),
        "solver.solve_ms": (_median([t["solve_ns"] / 1e6 for t in solved]), "ms"),
        "solver.lp_iterations": (_median([t["lp_iterations"] for t in lps]), "count"),
        "solver.mip_nodes": (_median([t["mip_nodes"] for t in mips]), "count"),
        "solver.us_per_iteration": (_median([t["solve_ns"] / 1e3 / t["lp_iterations"]
                                             for t in lps if t["lp_iterations"]]), "us"),
        "jvm.gc_ms_per_op": (jvm["gc_ms"] / n, "ms"),
        "jvm.alloc_kb_per_op": (jvm["client_alloc_bytes"] / 1024 / n, "KB"),
        "jvm.process_cpu_ms_per_op": (jvm["cpu_ns"] / 1e6 / n, "ms"),
        "jvm.jit_ms": (float(jvm["jit_ms"]), "ms"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# -------------------------------------------------------------------- main

def run(workload, seed, seconds, trace):
    root = os.getcwd()
    classpath, out = build.build(root)
    # Inputs are cached per seed and per version of the input generators.
    with open(etl.__file__, "rb") as f1, open(lp.__file__, "rb") as f2:
        gen = hashlib.sha256(f1.read() + f2.read()).hexdigest()[:12]
    work = os.path.join(out, "inputs", f"{workload}-{seed}-{gen}")
    plan, oracle = make_inputs(workload, seed, work)
    run_dir = os.path.join(out, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    plan = dict(plan, seconds=seconds, warmup_rounds=WARMUP_ROUNDS[workload], min_ops=MINIMUM[workload][0],
                min_rounds=MINIMUM[workload][1],
                trace=bool(trace), cores=CORES, scratch_dir=os.path.join(run_dir, "scratch"))
    answers_path = os.path.join(run_dir, "answers.json")
    flags = JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                         f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
    plan_path = os.path.join(run_dir, "plan.json")
    plan["launch_ms"] = int(time.time() * 1000)
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(["java"] + flags + ["-cp", classpath, "perfbench.Harness", plan_path, answers_path],
                                cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"client JVM timed out; log in {run_dir}/jvm.log")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(answers_path + ".heap"):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"client JVM failed ({rc}); log in {run_dir}/jvm.log")
    with open(answers_path) as f:
        answers = json.load(f)
    with open(answers_path + ".heap") as f:
        heap_mb = float(f.read())

    round_ops = plan["round"]
    errs = check(workload, round_ops, oracle, answers["warmup"] + answers["timed"])
    for e in errs[:20]:
        print(f"WRONG: {e}", file=sys.stderr)
    ok = [not op_failed(round_ops[r["i"]], r) for r in answers["timed"]]
    e2e = end_to_end(answers, [r["ns"] for r, good in zip(answers["timed"], ok) if good], heap_mb)
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "attempted": len(ok), "failed": ok.count(False), "correct": not errs,
              "rounds": answers["rounds"], "warmup_rounds": answers["warmup_rounds"],
              "session_s": answers["session_ms"] / 1000, "window_s": answers["window_ns"] / 1e9,
              "end_to_end": e2e}
    metrics = e2e
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    base = os.path.join(HERE, "out", f"{workload}-seed{seed}")
    if trace:
        metrics = record["per_layer"] = per_layer(workload, round_ops, answers, ok)
        untraced = base + ".json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                plain = json.load(f)["end_to_end"]
            record["tracing_overhead"] = {
                k: e2e[k]["value"] / plain[k]["value"] - 1
                for k in ("ops_per_s", "latency_p50_ms", "latency_p90_ms", "setup_s")}
        else:
            record["tracing_overhead"] = None  # run the same seed with --trace 0 first
    with open(base + ("-trace" if trace else "") + ".json", "w") as f:
        json.dump(record, f, indent=1)
    subprocess.run(["rm", "-rf", run_dir])
    return {"correct": not errs, "attempted": len(ok), "failed": ok.count(False), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
