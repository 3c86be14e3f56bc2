"""Benchmark launcher for the spark-graft engine.

    python3 perfbench/run.py --workload etl_blueprints --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout. Each run makes its inputs from the
fixture copies in ``perfbench/fixtures`` and the seed, under
``.perfbench/`` in the checkout, computes the expected outputs with
DuckDB, then starts one fresh worker process (``worker.py``) that
measures. The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it carries the run's facts (seed, CPUs,
Spark version, input size, wall-clock pass times, every sample, tracing
overhead).

``--smoke`` runs every workload once at sf0.001, traced and untraced,
and fails unless every metric named in BENCHMARK.json is emitted with
its unit and every output checks out. See NOTES.md for the design.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
PKG = "amazonredshift_blueprints_spark"
SF = 0.01          # fixture scale (lineitem 60k rows), see gen.py
SMOKE_SF = 0.001
DRIVER_MEM = "1g"  # SPARK_GRAFT_DRIVER_MEM for every worker
TIME_LIMIT_S = 170

sys.path[:0] = [HERE, CHECKOUT]


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _spawn(job: dict, env: dict, log_path: str, deadline: float) -> dict:
    """Run one worker to completion (or kill its process group at the
    deadline) and return its result."""
    env = dict(env, PERFBENCH_T0=repr(time.time()))
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(job)],
            cwd=job["ctx"]["run_dir"], env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
    if code != 0:
        with open(log_path, "rb") as fh:
            tail = fh.read()[-4000:].decode(errors="replace")
        raise RuntimeError(f"worker exited with {code}:\n{tail}")
    with open(job["result"]) as fh:
        return json.load(fh)


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (the JVM, Python
    UDF workers) and wait until every member has exited."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(100):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def _prepare(workload: str, seed: int, sf: float, run_dir: str) -> tuple[dict, dict]:
    """Generate inputs and expected outputs; returns (worker ctx, input size)."""
    import gen
    import oracle
    from workloads import CURATION_ENTRIES, DUCKDB_REPLAY, SQL_ENTRIES, WORKLOADS

    data_dir = os.path.join(run_dir, "data")
    src = gen.fixture_dir(sf)
    names = WORKLOADS[workload][0]
    tables = gen.make_tables(seed, src, names or ("lineitem", "orders"))
    sizes = gen.write_tables({n: tables[n] for n in names}, src, data_dir)
    ctx = {"run_dir": run_dir, "data_dir": data_dir, "warehouse": os.path.join(run_dir, "wh"),
           "oracle_dir": os.path.join(run_dir, "oracle"), "tables": names}
    con = oracle.connect(data_dir, names)
    if workload == "etl_blueprints":
        etl = gen.make_etl_inputs(seed, tables["lineitem"], tables["orders"],
                                  os.path.join(run_dir, "in"))
        ctx["etl"] = etl
        ctx["etl_expected"] = oracle.etl_expected(con, etl, DUCKDB_REPLAY)
        r = etl["rows"]
        size = {"rows": r["b1"] + r["b2"] + r["b3"], "bytes": etl["csv_bytes"],
                "delta_rows": r["delta"], "what": "lineitem CSV batches"}
        ctx["rows_loaded"] = r["b1"] + r["b2"] + r["b3"] - r["b3_bad"]
    else:
        from amazonredshift_blueprints_spark.plans import QUERIES

        entries = SQL_ENTRIES if workload == "sql_analytics" else CURATION_ENTRIES
        oracle.entry_results(con, {e: QUERIES[e].oracle for e in entries}, ctx["oracle_dir"])
        size = {"rows": sum(tables[n].num_rows for n in names), "bytes": sum(sizes.values()),
                "what": f"parquet tables {', '.join(names)}"}
    con.close()
    return ctx, size


def _env(run_dir: str, trace: bool) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    # compiler threads that never exit keep their CPU time readable
    # (worker.py); no perf-data file, which the JVM would put in /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads -XX:-UsePerfData"
    submit = [f"--driver-java-options '{java_opts}'"]
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{os.path.join(run_dir, 'eventlog')}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "wh"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "PYTHONPATH": CHECKOUT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # the JVM that assembles the command
    })
    return env


def _steal_s() -> float:
    """CPU time the hypervisor has taken from this VM (all CPUs), in s."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _sum_of_op_medians(passes: list[dict], key: str) -> float:
    """A warm pass as the sum over its operations of each one's median
    across the warm passes: a GC pause or JIT burst that lands in one
    operation of one pass does not move it."""
    return sum(statistics.median(p[key][op] for p in passes) for op in passes[0][key])


def _tail_note(n: int) -> str:
    for p in (99, 90, 50):
        if n * (100 - p) / 100 >= 10:
            return f"p{p}"
    return f"none (n={n}: no percentile has 10 samples beyond it)"


def run_once(workload: str, seed: int, seconds: float, trace: bool, sf: float = SF) -> tuple[dict, dict]:
    """One benchmark run; returns (result line, facts line)."""
    start = time.time()
    deadline = start + TIME_LIMIT_S
    run_dir = os.path.join(CHECKOUT, ".perfbench", f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("wh", "out", "local", "tmp", "eventlog", "oracle"):
        os.makedirs(os.path.join(run_dir, sub))
    try:
        ctx, size = _prepare(workload, seed, sf, run_dir)
        env = _env(run_dir, trace)
        base = {"checkout": CHECKOUT, "workload": workload, "ctx": ctx, "trace": trace,
                "seconds": seconds}
        log = os.path.join(run_dir, "worker.log")
        steal0 = _steal_s()
        res = _spawn(dict(base, result=os.path.join(run_dir, "main.json")), env, log, deadline)
        passes = res["passes"]
        for p in passes:  # CPU of an operation's own work: JIT compilation excluded
            p["op_work_cpu"] = {op: p["op_cpu"][op] - p["op_jit"][op] for op in p["ops"]}
        warm = [p["pass_s"] for p in passes]
        written = sum(p["bytes_written"] for p in passes) / len(passes)
        facts = {
            "workload": workload, "seed": seed, "sf": sf, "cpus": _cpus(),
            "spark_version": _spark_version(), "input": size,
            # wall-clock pass times: what a user waits for, but too noisy on
            # a VM whose host steals CPU to gate on (see NOTES.md)
            "wall_clock": {
                "cold_pass_s": {"value": res["cold_pass_s"], "unit": "s"},
                "warm_pass_s": {"value": _sum_of_op_medians(passes, "ops"), "unit": "s"},
            },
            "warm_passes_s": warm,
            "warm_passes_cpu_s": [p["cpu_s"] for p in passes],
            "warm_passes_jit_s": [p["jit_s"] for p in passes],
            "cold_pass_jit_s": res["cold_jit_s"],
            "warm_pass_tail": _tail_note(len(warm)),
            "steal_s": _steal_s() - steal0,
            "rss_split_mb": res["rss_split_mb"],
            "fail_ratio": len(res["failures"]) / res["attempted"],
            "failures": res["failures"][:5],
            "bytes_written_per_input_byte": written / size["bytes"],
            "cold_op_s": res["cold_ops"],
            "warm_op_s": [p["ops"] for p in passes],
        }
        if trace:
            import layers

            metrics, table = layers.per_layer(res, ctx, run_dir, _cpus(), size)
            facts["per_layer_spark"] = table
            facts["tracing_overhead_s"] = metrics["trace.overhead_s"]["value"]
        else:
            metrics = {
                "setup_s": {"value": res["setup_s"], "unit": "s"},
                "cold_pass_cpu_s": {"value": res["cold_cpu_s"], "unit": "s"},
                "warm_pass_cpu_s": {"value": _sum_of_op_medians(passes, "op_work_cpu"),
                                    "unit": "s"},
                "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
            }
        line = {"correct": not res["failures"], "attempted": res["attempted"],
                "failed": len(res["failures"]), "metrics": metrics}
        facts["elapsed_s"] = time.time() - start
        return line, facts
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _spark_version() -> str:
    import pyspark

    return pyspark.__version__


def smoke() -> int:
    """Every workload once at sf0.001, untraced and traced; checks that
    every metric of BENCHMARK.json is present with its unit. Covers
    ``sql_analytics`` too, which BENCHMARK.json leaves out (see NOTES.md)."""
    from workloads import WORKLOADS

    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bad = []
    for name in WORKLOADS:
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            line, facts = run_once(name, 0, 1, trace, sf=SMOKE_SF)
            print(json.dumps({"smoke": name, "trace": trace, "correct": line["correct"],
                              "elapsed_s": round(facts["elapsed_s"], 1)}), flush=True)
            if not line["correct"]:
                bad.append(f"{name} trace={trace}: {facts['failures']}")
            for m in spec[key]:
                got = line["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    bad.append(f"{name} trace={trace}: metric {m['name']} missing or wrong unit: {got}")
    for b in bad:
        print("SMOKE FAIL", b, file=sys.stderr)
    return 1 if bad else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("etl_blueprints", "sql_analytics", "curation_ops"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(CHECKOUT, PKG, "__init__.py")):
        print(f"error: {PKG}/ not found next to perfbench/ in {CHECKOUT}", file=sys.stderr)
        return 2
    # a terminated launcher still stops its worker and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    line, facts = run_once(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(facts))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
