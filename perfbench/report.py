"""Turn a run's operations and spans into metrics.

Three views:

- :func:`end_to_end`: the metrics every workload prints untraced;
- :func:`per_layer`: the layer metrics every workload prints traced;
- :func:`module_tables`: the per-module and per-request-type numbers of
  one workload, written with the spans (they exist only where the
  workload exercises that module).
"""

from __future__ import annotations

import statistics

from perfbench.stats import summary
from perfbench.spans import children_of, driver_gap

CORES = 4


def _per_s(ops: list[dict]) -> float:
    wall = sum(o["wall_s"] for o in ops)
    return sum(o["items"] for o in ops) / wall


def end_to_end(ops: list[dict], setup: dict) -> dict:
    a = [o for o in ops if o["path"] == "a"]
    b = [o for o in ops if o["path"] == "b"]
    return {"setup_s": (sum(setup.values()), "s"),
            "path_a_per_s": (_per_s(a), "1/s"),
            "path_b_per_s": (_per_s(b), "1/s")}


def _spark_sums(ops: list[dict]) -> dict:
    keys = ("jobs", "stages", "skipped_stages", "tasks", "executor_run_s",
            "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
            "input_bytes", "spill_bytes")
    return {k: sum(o.get("spark", {}).get(k, 0) for o in ops) for k in keys}


def _gaps(ops: list[dict], spans: list[dict]) -> list[float]:
    kids = children_of(spans)
    by_id = {s["id"]: s for s in spans}
    return [driver_gap(by_id[o["span"]], kids) for o in ops
            if o.get("span") in by_id]


def per_layer(ops: list[dict], spans: list[dict], setup: dict,
              rss_mb: float) -> dict:
    n = len(ops)
    wall = sum(o["wall_s"] for o in ops)
    sp = _spark_sums(ops)
    gap = sum(_gaps(ops, spans))
    out = {"session.start_s": (setup["session"], "s"),
           "setup.generate_s": (setup["generate"], "s"),
           "setup.reference_s": (setup["reference"], "s"),
           "setup.warm_s": (setup["warm"], "s"),
           "spark.jobs_per_op": (sp["jobs"] / n, "count"),
           "spark.stages_per_op": (sp["stages"] / n, "count"),
           "spark.skipped_stages_per_op": (sp["skipped_stages"] / n, "count"),
           "spark.tasks_per_op": (sp["tasks"] / n, "count"),
           "spark.executor_run_ms_per_op":
               (1e3 * sp["executor_run_s"] / n, "ms"),
           "spark.executor_cpu_ms_per_op":
               (1e3 * sp["executor_cpu_s"] / n, "ms"),
           "spark.shuffle_read_kb_per_op":
               (sp["shuffle_read_bytes"] / 1024 / n, "KiB"),
           "spark.shuffle_write_kb_per_op":
               (sp["shuffle_write_bytes"] / 1024 / n, "KiB"),
           "spark.input_kb_per_op": (sp["input_bytes"] / 1024 / n, "KiB"),
           "spark.busy_ratio": (sp["executor_run_s"] / (wall * CORES), "ratio"),
           "driver.gap_ms_per_op": (1e3 * gap / n, "ms"),
           "driver.gap_share": (gap / wall, "ratio")}
    for p in ("a", "b"):
        po = [o for o in ops if o["path"] == p]
        pw = sum(o["wall_s"] for o in po)
        out[f"path_{p}.ms_per_op"] = (1e3 * pw / len(po), "ms")
        out[f"path_{p}.jobs_per_op"] = (_spark_sums(po)["jobs"] / len(po),
                                        "count")
        out[f"path_{p}.gap_share"] = (sum(_gaps(po, spans)) / pw, "ratio")
    out["memory.peak_rss_mb"] = (rss_mb, "MB")
    out["trace.spans_per_op"] = (len(spans) / n, "count")
    return out


# -- per-module tables (written with the spans) ---------------------------


def _phase_split(op: dict, spans: list[dict]) -> dict:
    """Seconds and job counts per phase of one operation."""
    kids = children_of(spans)
    out: dict = {}
    for ph in kids.get(op.get("span"), []):
        if ph["name"] in ("spark.job", "check"):
            continue
        d = out.setdefault(ph["name"], {"s": 0.0, "jobs": 0})
        d["s"] += ph["end"] - ph["start"]
        d["jobs"] += sum(1 for k in kids.get(ph["id"], [])
                         if k["name"] == "spark.job")
    return out


def _module_row(ops: list[dict], spans: list[dict], passes: int) -> dict:
    sp = _spark_sums(ops)
    wall = sum(o["wall_s"] for o in ops)
    ph = [_phase_split(o, spans) for o in ops]
    row = {"wall_s": wall / passes,
           "build_s": sum(p.get("build", {}).get("s", 0) for p in ph) / passes,
           "build_jobs": sum(p.get("build", {}).get("jobs", 0)
                             for p in ph) / passes,
           "collect_s": sum(p.get("collect", {}).get("s", 0)
                            for p in ph) / passes}
    row.update({k: v / passes for k, v in sp.items()})
    row["busy_ratio"] = sp["executor_run_s"] / (wall * CORES)
    row["driver_gap_s"] = sum(_gaps(ops, spans)) / passes
    return row


def _api_table(ops: list[dict], spans: list[dict]) -> dict:
    out: dict = {}
    wall = sum(o["wall_s"] for o in ops)
    point = [o for o in ops if o["path"] == "a"]
    out["lookup_ms"] = summary([1e3 * o["wall_s"] for o in point])
    out["lookup_rps"] = len(point) / sum(o["wall_s"] for o in point)
    out["write_ms"] = summary([1e3 * o["wall_s"] for o in ops
                               if o["label"] == "check"])
    by_op: dict[str, list[dict]] = {}
    for o in ops:
        by_op.setdefault(o["label"], []).append(o)
    for op, lst in sorted(by_op.items()):
        out[f"api.{op}.ms"] = summary([1e3 * o["wall_s"] for o in lst])
    sp = _spark_sums(ops)
    out["api.jobs_per_request"] = sp["jobs"] / len(ops)
    out["api.tasks_per_request"] = sp["tasks"] / len(ops)
    out["api.driver_gap_share"] = sum(_gaps(ops, spans)) / wall
    return out


def _spec_table(ops: list[dict], spans: list[dict]) -> dict:
    out: dict = {}
    labels = sorted({o["label"] for o in ops})
    passes = len(ops) // len(labels)
    out["passes"] = passes
    mods: dict[str, list[dict]] = {}
    for o in ops:
        mods.setdefault(o["module"], []).append(o)
    for mod, lst in sorted(mods.items()):
        for k, v in _module_row(lst, spans, passes).items():
            out[f"{mod}.{k}"] = v
    out["batch_llm_s"] = out["llm_queries.wall_s"]
    out["batch_sql_s"] = sum(out[f"{m}.wall_s"] for m in
                             ("relational", "registry_queries",
                              "streaming_queries"))
    for label in labels:
        lst = [o for o in ops if o["label"] == label]
        short = label.split("_")[0]
        out[f"{short}.wall_s"] = statistics.median(o["wall_s"] for o in lst)
        out[f"{short}.jobs"] = statistics.median(
            o.get("spark", {}).get("jobs", 0) for o in lst)
    return out


def _ingest_table(workload, ops: list[dict]) -> dict:
    out: dict = {}
    mb = [o for o in ops if "stream" in o]
    ep = [o for o in ops if o["label"] == "epoch"]
    cp = [o for o in ops if o["label"] == "compact"]
    out["ingest_batch_ms"] = summary([1e3 * o["wall_s"] for o in mb])
    out["ingest_events_per_s"] = _per_s(mb)
    out["store_docs_per_s"] = _per_s(ep + cp)
    st = [o["stream"] for o in mb]
    for k in ("add_batch_ms", "query_planning_ms", "wal_commit_ms",
              "commit_offsets_ms", "state_commit_ms"):
        out[f"streaming.{k}"] = statistics.median(s[k] for s in st)
    for k in ("state_rows", "state_memory_bytes"):
        out[f"streaming.{k}"] = max(s[k] for s in st)
    sp = _spark_sums(mb)
    out["streaming.jobs_per_batch"] = sp["jobs"] / len(mb)
    out["streaming.tasks_per_batch"] = sp["tasks"] / len(mb)
    out["streaming.drains"] = workload.drains
    out["dedup_store.epoch_ms"] = summary([1e3 * o["wall_s"] for o in ep])
    out["dedup_store.jobs_per_epoch"] = _spark_sums(ep)["jobs"] / len(ep)
    out["dedup_store.compact_s"] = statistics.median(o["wall_s"] for o in cp)
    store = workload.stores[-1]
    out["dedup_store.bytes_on_disk"] = store["bytes"]
    out["dedup_store.files"] = store["files"]
    out["dedup_store.write_amp"] = store["bytes"] / workload.n_text_bytes
    return out


def module_tables(workload, ops: list[dict], spans: list[dict]) -> dict:
    out: dict = {"ops": len(ops),
                 "failed": sum(1 for o in ops if not o["ok"])}
    if workload.name == "query":
        out.update(_api_table([o for o in ops if o["part"] == "api"], spans))
        out.update(_spec_table([o for o in ops if o["part"] == "spec"],
                               spans))
    else:
        out.update(_ingest_table(workload, ops))
    return out
