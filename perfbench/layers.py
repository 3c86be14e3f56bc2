"""Per-layer metrics of a traced run, from its spans and Spark event log.

Every figure is per warm pass: computed for each traced warm pass, then
the median is reported. A layer's time is the summed duration of the
calls into it from outside it; its jobs are the Spark jobs run while one
of those calls was on the stack (inclusive of nested layers).
"""

from __future__ import annotations

import glob
import json
import os
import statistics

from tracing import SPARK_KEYS, attribute, layer_entries, read_event_log

OPERATOR_LAYERS = ("graph", "dedup", "similarity", "text", "multimodal")


def _pass_metrics(entries, totals, rec, cpus, ctx, size) -> dict:
    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def jobs(ss):
        return sum(totals[s["id"]]["jobs"] for s in ss)

    def sel(layer, *prefixes):
        return [s for s in entries if s["layer"] == layer
                and (not prefixes or s["name"].startswith(prefixes))]

    m = {}
    for layer in OPERATOR_LAYERS:
        ss = sel(layer)
        m[f"{layer}.calls"] = len(ss)
        m[f"{layer}.s"] = dur(ss)
        m[f"{layer}.jobs"] = jobs(ss)
    for part in ("build", "execute"):
        ss = sel("catalog", part)
        m[f"catalog.{part}_s"] = dur(ss)
        m[f"catalog.{part}_jobs"] = jobs(ss)
    m["cache.persisted_left"] = rec["persisted_left"]
    m["redshift_compat.translate_s"] = dur(sel("redshift_compat"))
    m["session.load_table_s"] = dur(sel("session", "load_table"))
    ing = sel("ingest", "ingest_files")
    m["ingest.ingest_files_s"] = dur(ing)
    loaded = ctx.get("rows_loaded", 0)
    m["ingest.rows_per_s"] = loaded / m["ingest.ingest_files_s"] if ing else 0.0
    m["ingest.jobs_per_call"] = jobs(ing) / len(ing) if ing else 0.0
    m["copy_unload.copy_s"] = dur(sel("copy_unload", "execute_copy"))
    m["copy_unload.unload_s"] = dur(sel("copy_unload", "execute_unload"))
    m["sqlrun.execute_sql_s"] = dur(sel("sqlrun", "execute_sql"))
    m["transactions.commit_s"] = dur(sel("transactions", "commit"))
    for verb in ("delete", "update", "merge"):
        m[f"dml.{verb}_s"] = dur(sel("dml", verb))
    m["dml.rewrite_bytes_ratio"] = (
        rec["dml_written"] / rec["dml_table_bytes"] if rec["dml_table_bytes"] else 0.0)
    m["export.store_query_results_s"] = dur(sel("export", "store_query_results"))
    m["export.write_result_s"] = dur(sel("export", "write_result", "write_csv"))
    exp = sel("export")
    m["export.jobs_per_call"] = jobs(exp) / len(exp) if exp else 0.0
    ops = sel("op")
    for k in SPARK_KEYS:
        m[f"spark.{k}"] = sum(totals[s["id"]][k] for s in ops)
    m["spark.busy_ratio"] = m["spark.executor_run_s"] / (rec["pass_s"] * cpus)
    m["io.bytes_written_per_input_byte"] = rec["bytes_written"] / size["bytes"]
    return m


def _unit(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "per_input_byte")):
        return "ratio"
    if name.endswith("_per_call"):
        return "jobs/call"
    return "count"


def per_layer(res: dict, ctx: dict, run_dir: str, cpus: int, size: dict) -> tuple[dict, dict]:
    """(metrics for the result line, per-layer Spark table for the facts line)."""
    with open(res["spans"]) as fh:
        spans = json.load(fh)
    (log,) = glob.glob(os.path.join(run_dir, "eventlog", "*"))
    totals, by_id = attribute(spans, read_event_log(log))
    entries = layer_entries(spans, by_id)
    traced = [p for p in res["passes"] if p["traced"]]
    samples = [
        _pass_metrics([s for s in entries if s["tag"] == p["label"]], totals, p, cpus, ctx, size)
        for p in traced
    ]
    metrics = {k: statistics.median(s[k] for s in samples) for k in samples[0]}
    get_spark = [s for s in entries if s["tag"] == "setup" and s["name"] == "get_spark"]
    metrics["session.get_spark_s"] = sum(s["end"] - s["start"] for s in get_spark)
    traced_warm = statistics.median(p["pass_s"] for p in traced)
    metrics["trace.warm_pass_s"] = traced_warm
    metrics["trace.overhead_s"] = traced_warm - res["untraced_warm_s"]
    out = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(metrics.items())}
    out["trace.overhead_s"]["unit"] = "s"

    # Spark totals per layer over all traced warm passes (for reading, not gating)
    table: dict[str, dict] = {}
    labels = {p["label"] for p in traced}
    for s in entries:
        if s["tag"] in labels and s["layer"] != "op":
            row = table.setdefault(s["layer"], dict.fromkeys(SPARK_KEYS, 0.0))
            for k in SPARK_KEYS:
                row[k] += totals[s["id"]][k] / len(traced)
    return out, table
