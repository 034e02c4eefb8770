"""Per-layer metrics of a traced run, named after the package modules.

Which end-to-end metric each layer metric should move (``setup_s``,
``p50_ms``, ``per_s``; see run.py for their definitions per workload):

| per-layer metric | layer | should move | workload |
|---|---|---|---|
| session.get_spark_s | session (the JVM launch) | setup_s | both |
| cli.load_dims_s | cli + sources.geojson_source | setup_s; ingest p50_ms (every run reloads dims) | both |
| ingest.*.pipeline.curate_dedup_s | sources.csv_ingest + transform + enrich.new_rows_only | ingest per_s | ingest |
| ingest.*.pipeline.batch_count_s | transform (the count re-runs it) | ingest per_s | ingest |
| ingest.*.pipeline.enrich_s | enrich + operators.geo | ingest per_s | ingest |
| ingest.*.pipeline.spillover_s | pipeline (affected days, prior-day merge) | ingest p50_ms | ingest |
| ingest.*.warehouse.append_s | pipeline.Warehouse.append | ingest per_s | ingest |
| ingest.*.warehouse.publish.<table>_s | marts + Warehouse.overwrite_partitions/overwrite | ingest p50_ms | ingest |
| ingest.*.warehouse.publishes/files_written/bytes_written | pipeline.Warehouse | ingest p50_ms | ingest |
| ingest.*.warehouse.bytes_per_input_byte | pipeline.Warehouse (space per CSV byte) | ingest per_s | ingest |
| ingest.*.checks.report_s | checks via pipeline.write_validation_report | ingest p50_ms | ingest |
| ingest.*.plan_s | lazy builders (read_csv_all_string, curated_from_raw, enrich, marts.*) | ingest p50_ms | ingest |
| ingest.*.pipeline.new_row_ratio | enrich.new_rows_only (useful work of the anti-join) | ingest p50_ms | ingest |
| serve.api.<endpoint>.p50_ms (misses) | api.handle_request + queries/geoqueries | serve p50_ms, per_s | serve |
| serve.http.overhead_p50_ms | api.serve (client latency minus handler time) | serve p50_ms | serve |
| serve.cache.*_hit_ratio, serve.cache.view_hit_share (views none of whose requests missed) | serving_cache | serve p50_ms, per_s | serve |
| serve.setup.context_s | api + geoprep + Warehouse.read | setup_s | serve |
| *.spark.jobs/tasks | Spark, by job group | p50_ms | both |
| *.spark.executor_run_ms/gc_ms/scheduler_delay_ms/shuffle_write_bytes/spill_bytes | Spark | ingest per_s; serve p50_ms | both |
| *.unattributed_s | phase wall time minus its top-level spans | should stay small | both |

``ingest.backfill.*`` is the one range run; ``ingest.day.*`` is the
median over the daily arrivals. The untimed warm-up run before them is
printed in the table but not reported. A layer the workload does not
use reads 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import PLAN_SPANS, PUBLISHED_TABLES, SPARK_FIELDS

ENDPOINTS = (
    "summary", "timeseries_total", "top", "totals", "choropleth_uf",
    "choropleth_mun", "points",
)
_PHASE_TIMES = (
    "pipeline.curate_dedup", "pipeline.batch_count", "pipeline.enrich",
    "pipeline.spillover", "warehouse.append", "checks.report", "cli.load_dims",
) + tuple(f"warehouse.publish.{t}" for t in PUBLISHED_TABLES)


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms") or name.endswith("_ms_per_miss"):
        return "ms"
    if "bytes" in name and "per_input" not in name:
        return "bytes"
    if name.endswith(("ratio", "share", "per_input_byte")):
        return "ratio"
    return "count"


def _spark_names(prefix: str, suffix: str = "") -> list[str]:
    return [f"{prefix}spark.{f}{suffix}" for f in SPARK_FIELDS]


def names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in report order."""
    out = ["session.get_spark_s", "cli.load_dims_s"]
    for phase in ("backfill", "day"):
        p = f"ingest.{phase}."
        out += [p + "wall_s", p + "plan_s", p + "unattributed_s"]
        out += [p + t + "_s" for t in _PHASE_TIMES]
        out += [p + n for n in (
            "pipeline.new_row_ratio", "warehouse.publishes",
            "warehouse.files_written", "warehouse.bytes_written",
            "warehouse.bytes_per_input_byte",
        )]
        out += _spark_names(p)
    out += [f"serve.api.{e}.p50_ms" for e in ENDPOINTS]
    out += [
        "serve.http.overhead_p50_ms", "serve.miss_p50_ms",
        "serve.cache.general.hit_ratio", "serve.cache.points.hit_ratio",
        "serve.cache.view_hit_share", "serve.setup.context_s",
        "serve.unattributed_s",
    ]
    out += _spark_names("serve.", "_per_miss")
    return [(n, _unit(n)) for n in out]


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def setup_metrics(tracer) -> dict:
    top = [s for s in tracer.spans if s.parent is None]
    return {
        "session.get_spark_s": _med(s.seconds for s in top if s.name == "session.get_spark"),
        "cli.load_dims_s": _med(s.seconds for s in top if s.name == "cli.load_dims"),
    }


def ingest_metrics(tracer, ops) -> tuple[dict, list]:
    """Per-phase metrics plus the table rows (phase totals, so the
    top-level spans and the residual add up to the phase wall time)."""
    kids = tracer.children()
    spark = tracer.spark_by_span()
    op_spans = [s for s in tracer.spans if s.name.startswith("op.")]
    per_op = defaultdict(list)
    table: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    for sp, (phase, csv_bytes, before, after) in zip(op_spans, ops):
        desc = tracer.descendants(sp, kids)
        m = {"wall_s": sp.seconds}
        for name in _PHASE_TIMES:
            m[name + "_s"] = sum(d.seconds for d in desc if d.name == name)
        m["plan_s"] = sum(d.seconds for d in desc if d.name in PLAN_SPANS)
        top_level = kids.get(sp.sid, [])
        m["unattributed_s"] = sp.seconds - sum(k.seconds for k in top_level)
        batch = [d.attrs for d in desc if d.name == "pipeline.process_batch" and d.attrs]
        rows_in = sum(b["rows_in_batch"] or 0 for b in batch)
        m["pipeline.new_row_ratio"] = (
            sum(b["rows_new"] or 0 for b in batch) / rows_in if rows_in else 0.0
        )
        m["warehouse.publishes"] = sum(d.name.startswith("warehouse.publish.") for d in desc)
        written = {p: n for p, n in after.items() if before.get(p) != n}
        m["warehouse.files_written"] = len(written)
        m["warehouse.bytes_written"] = sum(written.values())
        m["warehouse.bytes_per_input_byte"] = (
            (sum(after.values()) - sum(before.values())) / csv_bytes
        )
        for f in SPARK_FIELDS:
            m["spark." + f] = sum(spark[d.sid][f] for d in desc if d.sid in spark)
        per_op[phase].append(m)
        # table: inclusive and self time of every span under the op,
        # keyed by its path of span names below the op
        rows = table[phase]
        rows[("(phase wall)",)].append((sp.seconds, sp.seconds))
        by_id = {d.sid: d for d in desc}
        for d in sorted(desc[1:], key=lambda d: d.start):
            path, up = [], d
            while up.sid != sp.sid:
                path.append(up.name)
                up = by_id[up.parent]
            rows[tuple(reversed(path))].append((d.seconds, tracer.self_seconds(d, kids)))
        rows[("unattributed",)].append((m["unattributed_s"], m["unattributed_s"]))
    out = {}
    for phase, ms in per_op.items():
        for key in ms[0]:
            out[f"ingest.{phase}.{key}"] = _med(m[key] for m in ms)
    return out, table


def serve_metrics(tracer, result) -> tuple[dict, dict]:
    spark = tracer.spark_by_span()
    api_spans = sorted(
        (s for s in tracer.spans if s.phase == "serve" and s.name.startswith("api.")),
        key=lambda s: s.start,
    )
    by_url = defaultdict(list)
    for s in api_spans:
        by_url[s.attrs["url"]].append(s)
    taken = defaultdict(int)
    miss_server = defaultdict(list)
    overhead, miss_spans = [], []
    for u, seconds, first in result["requests"]:
        k = taken[u]
        taken[u] += 1
        if k >= len(by_url[u]):
            continue
        s = by_url[u][k]
        overhead.append((seconds - s.seconds) * 1000.0)
        if first:
            miss_server[s.name].append(s.seconds * 1000.0)
            miss_spans.append(s)
    gh, gm, ph, pm = result["cache"]
    views = result["views"]
    view_spans = [s for s in tracer.spans if s.name == "serve.view"]
    out = {f"serve.api.{e}.p50_ms": _med(miss_server.get(f"api.{e}", ())) for e in ENDPOINTS}
    out.update({
        "serve.http.overhead_p50_ms": _med(overhead),
        "serve.miss_p50_ms": _med(s * 1000.0 for _u, s, first in result["requests"] if first),
        "serve.cache.general.hit_ratio": gh / max(1, gh + gm),
        "serve.cache.points.hit_ratio": ph / max(1, ph + pm),
        "serve.cache.view_hit_share": result["all_hit_views"] / max(1, len(views)),
        "serve.setup.context_s": _med(
            s.seconds for s in tracer.spans if s.name == "serve.setup.context"
        ),
        "serve.unattributed_s": result["loop_s"] - sum(s.seconds for s in view_spans),
    })
    n = max(1, len(miss_spans))
    for f in SPARK_FIELDS:
        out[f"serve.spark.{f}_per_miss"] = sum(
            spark[s.sid][f] for s in miss_spans if s.sid in spark
        ) / n
    table = {
        "(loop wall)": result["loop_s"],
        "  serve.view (sum)": sum(s.seconds for s in view_spans),
        "unattributed": out["serve.unattributed_s"],
    }
    for name, vals in sorted(miss_server.items()):
        table[f"    {name} miss p50 ms (n={len(vals)})"] = _med(vals)
    return out, table
