"""One benchmark process: set up a session, run passes, report.

Run by ``run.py`` as a fresh Python process per run, with the run's
environment already isolated (warehouse, local dirs, TMPDIR, PYTHONPATH,
``local[N]``). Reads its job from ``argv[1]`` (JSON) and writes its
result to the path named there. Only the launcher prints to the
terminal; this process's stdout goes to a log file.

It measures set-up, runs one cold pass, two warm-up passes, then warm
passes until their timed work adds up to the requested number of
seconds. Every operation is timed on the wall clock and in CPU seconds
of the whole process group.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    head, _, rest = raw.rpartition(")")
    return head.partition("(")[2], rest.split()


def _group_cpu_s(jvm_pid: int) -> tuple[float, float]:
    """CPU seconds used so far by the live members of this process group
    (this driver, the JVM, the Python UDF workers), and the part of it
    spent by the JVM's JIT compiler threads (kept alive for the whole run
    by -XX:-UseDynamicNumberOfCompilerThreads, so none of their time is
    lost with an exiting thread)."""
    pgid, total, jit = os.getpgid(0), 0, 0
    for pid in os.listdir("/proc"):
        st = _stat(f"/proc/{pid}/stat") if pid.isdigit() else None
        if st is None or int(st[1][2]) != pgid:
            continue
        total += int(st[1][11]) + int(st[1][12])
        if int(pid) == jvm_pid:
            for tid in os.listdir(f"/proc/{pid}/task"):
                t = _stat(f"/proc/{pid}/task/{tid}/stat")
                if t is not None and t[0].startswith(_JIT_THREADS):
                    jit += int(t[1][11]) + int(t[1][12])
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz, jit / hz


def _peak_rss_kb(spark) -> tuple[int, int]:
    """Peak resident set so far of (this Python driver, the driver JVM).
    ``get_spark`` launched the JVM as this process's child."""
    return _vm_hwm_kb(os.getpid()), _vm_hwm_kb(spark.sparkContext._gateway.proc.pid)


def _tree_bytes(dirs: list[str]) -> dict:
    """(dev, inode, size, mtime) -> size for every file under ``dirs``:
    renames keep their signature, so only real writes look new."""
    sig = {}
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                try:
                    st = os.stat(os.path.join(root, f))
                except FileNotFoundError:
                    continue
                sig[(st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)] = st.st_size
    return sig


def _dir_bytes(path: str) -> int:
    return sum(_tree_bytes([path]).values())


def main() -> int:
    job = json.loads(sys.argv[1])
    t0 = float(os.environ["PERFBENCH_T0"])  # set by the launcher just before spawn
    sys.path.insert(0, job["checkout"])

    from tracing import Tracer
    from workloads import WORKLOADS

    tracer = Tracer()
    trace = job["trace"]
    if trace:
        tracer.install()
        tracer.enabled = True
        tracer.tag = "setup"

    from amazonredshift_blueprints_spark.session import get_spark

    _, setup_inputs, make_ops = WORKLOADS[job["workload"]]
    ctx = job["ctx"]
    spark = get_spark(f"perfbench-{job['workload']}")
    tracer.attach(spark)
    setup_inputs(spark, ctx)
    setup_s = time.time() - t0
    result = {"setup_s": setup_s}
    spark.sparkContext.setLogLevel("ERROR")

    ops = make_ops(spark, ctx, tracer)
    jsc = spark.sparkContext._jsc
    jvm_pid = spark.sparkContext._gateway.proc.pid
    wh, out = ctx["warehouse"], os.path.join(ctx["run_dir"], "out")
    track_bytes = job["workload"] == "etl_blueprints"
    failures: list[str] = []
    passes: list[dict] = []  # measured warm passes
    attempted = 0

    def run_pass(label, verify: bool, traced: bool) -> dict:
        nonlocal attempted
        tracer.enabled = traced
        tracer.tag = label
        rec = {"label": label, "traced": traced, "ops": {}, "op_cpu": {}, "op_jit": {},
               "persisted_left": 0, "bytes_written": 0, "dml_written": 0, "dml_table_bytes": 0}
        for op in ops:
            attempted += 1
            before = _tree_bytes([wh, out]) if track_bytes else None
            table_bytes = _dir_bytes(os.path.join(wh, "lineitem_wh")) if op.dml else 0
            n_rdds = jsc.getPersistentRDDs().size() if traced else 0
            ok, value = True, None
            cpu0, jit0 = _group_cpu_s(jvm_pid)
            with tracer.span(op.name, "op"):
                s = time.perf_counter()
                try:
                    value = op.run()
                except Exception:  # noqa: BLE001 - every failure is counted and reported
                    ok = False
                    failures.append(f"{label}/{op.name}: {traceback.format_exc(limit=3)}")
                dt = time.perf_counter() - s
            cpu1, jit1 = _group_cpu_s(jvm_pid)
            rec["op_cpu"][op.name], rec["op_jit"][op.name] = cpu1 - cpu0, jit1 - jit0
            rec["ops"][op.name] = dt
            if traced:
                rec["persisted_left"] += jsc.getPersistentRDDs().size() - n_rdds
            if track_bytes:
                new = _tree_bytes([wh, out])
                written = sum(v for k, v in new.items() if k not in before)
                rec["bytes_written"] += written
                if op.dml:
                    rec["dml_written"] += written
                    rec["dml_table_bytes"] += table_bytes
            if ok and (verify or op.every_pass):
                tracer.enabled = False
                try:
                    problems = op.check(value)
                except Exception as exc:  # noqa: BLE001
                    problems = [f"check raised {exc!r}"]
                tracer.enabled = traced
                if problems:
                    failures.append(f"{label}/{op.name}: {'; '.join(problems)}")
            spark.catalog.clearCache()
        rec["pass_s"] = sum(rec["ops"].values())
        rec["cpu_s"] = sum(rec["op_cpu"].values())
        rec["jit_s"] = sum(rec["op_jit"].values())
        tracer.enabled = False
        return rec

    cold = run_pass("cold", verify=True, traced=trace)
    # The first warm passes are on the steep part of the JIT warm-up
    # curve (each ~10% faster than the one before), so two of them run
    # unmeasured, the first one verified. Then warm passes until their
    # timed work adds up to the requested seconds. A traced run alternates
    # traced and untraced warm passes so the tracing overhead is measured
    # in the same process.
    run_pass("warmup", verify=True, traced=False)
    run_pass("warmup2", verify=False, traced=False)
    measured, k = 0.0, 0
    while measured < job["seconds"] or (trace and k < 2):
        passes.append(run_pass(f"warm{k}", verify=False, traced=trace and k % 2 == 0))
        measured += passes[-1]["pass_s"]
        k += 1

    py_kb, jvm_kb = _peak_rss_kb(spark)
    spark.stop()

    result.update({
        "cold_pass_s": cold["pass_s"],
        "cold_ops": cold["ops"],
        "cold_cpu_s": cold["cpu_s"],
        "cold_jit_s": cold["jit_s"],
        "peak_rss_mb": (py_kb + jvm_kb) / 1024.0,
        "rss_split_mb": {"python": py_kb / 1024.0, "jvm": jvm_kb / 1024.0},
        "attempted": attempted,
        "failures": failures,
        "passes": passes,
    })
    if trace:
        span_path = os.path.join(ctx["run_dir"], "spans.json")
        tracer.dump(span_path)
        result["spans"] = span_path
        result["untraced_warm_s"] = statistics.median(
            [p["pass_s"] for p in passes if not p["traced"]])
    _write(job["result"], result)
    return 0


def _write(path: str, result: dict) -> None:
    with open(path, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    raise SystemExit(main())
