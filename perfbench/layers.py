"""Per-layer metrics of a traced run.

Layers are named after the program's modules. A lazy layer's numbers
are differences between cumulative prefixes (each prefix runs the
public functions up to that layer into a noop sink); an eager call is
its own span. Every metric named in BENCHMARK.json's ``per_layer`` is
reported on every workload; a layer the workload does not run reads 0.
"""

from __future__ import annotations

from spans import SpanStats, Stats

BUILD_ORDER = ("extract", "link", "stanza", "materialize.dedup",
               "materialize.write")
STRAGGLER_QUERIES = ("dedup_minhash_lsh", "dedup_simhash_pairs",
                     "ann_srp_near_dup")


def _layer(out: dict, name: str, wall: float, st: Stats, rows: int,
           cores: int) -> None:
    out[f"{name}.self_s"] = wall
    out[f"{name}.task_s"] = st.task_s
    out[f"{name}.util"] = st.task_s / (cores * wall) if wall > 0 else 0.0
    out[f"{name}.fetch_wait_s"] = st.fetch_wait_s
    out[f"{name}.shuffle_write_mb"] = st.shuffle_write_mb
    out[f"{name}.rows_out"] = rows
    out[f"{name}.stages"] = st.stages
    out[f"{name}.python_in_mb"] = st.python_in_mb


def layer_metrics(d: dict, stats: SpanStats, cores: int) -> dict:
    """Metrics from a workload's ``decompose`` output ``d``."""
    out: dict[str, float] = {}
    prev_wall, prev_st = 0.0, Stats()
    for name in BUILD_ORDER:
        if name not in d:
            break
        rec = d[name]
        st = stats.of(rec["id"])
        _layer(out, name, rec["wall_s"] - prev_wall, st - prev_st,
               rec["rows"], cores)
        prev_wall, prev_st = rec["wall_s"], st
    out.update(d.get("ratios", {}))

    if "export" in d:
        for name in ("export", "sources", "diff"):
            rec = d[name]
            _layer(out, name, rec["wall_s"], stats.of(rec["id"]),
                   rec["rows"], cores)
        comp, src = d["components"], d["sources"]
        _layer(out, "components", comp["wall_s"] - src["wall_s"],
               stats.of(comp["id"]) - stats.of(src["id"]), comp["rows"],
               cores)
        out["components.rounds"] = stats.of(d["components.assign"]["id"]).jobs
        out["roundtrip.s"] = (d["export"]["wall_s"] + d["import"]["wall_s"]
                              + d["diff"]["wall_s"])

    if "stream.run" in d:
        run = stats.of(d["stream.run"]["id"])
        out["streaming.overhead_s"] = d["overhead_s"]
        out["streaming.batch_p50_s"] = d["batch_p50_s"]
        out["streaming.jobs_per_batch"] = run.jobs / max(d["batches"], 1)
        out["streaming.task_s"] = run.task_s
        out["streaming.python_in_mb"] = run.python_in_mb
        out["streaming.annkeys_rows"] = d["annkeys_rows"]
        out["streaming.read_result_s"] = d["stream.read"]["wall_s"]
    return out


def query_metrics(untraced: dict, traced_spans: dict,
                  stats: SpanStats) -> dict:
    """``queries.<op>.s`` (median untraced wall per op) and the
    straggler ratio of the banded-similarity queries, on the uniform
    and on the hot-bucket tables (from the last traced pass)."""
    out = {f"queries.{q}.s": s for q, s in untraced.items()}
    for q in STRAGGLER_QUERIES:
        for name in (q, f"hot.{q}"):
            if name in traced_spans:
                out[f"queries.{name}.max_task_ratio"] = (
                    stats.max_task_ratio(traced_spans[name]["id"]))
    return out


def spark_metrics(stats: SpanStats) -> dict:
    total = stats.total()
    return {"spark.gc_s": total.gc_s, "spark.spill_mb": total.spill_mb,
            "spark.task_fail": total.task_fail}
