"""End-to-end benchmark of the INPE path: landed CSV -> curated ->
enriched -> marts -> HTTP response.

Usage (from the repository root):

    python3 perfbench/run.py --workload {ingest,serve} --seed N \
        --seconds S --trace {0,1}

It drives the program only through public entry points:
``cli.main(["run", ...])`` (the code path a cron job runs),
``cli.load_dims``, ``pipeline.Warehouse.read``, ``api.ApiContext`` and
``api.serve``. The session is the package's own ``get_spark()`` with
``SPARK_GRAFT_CPUS`` set to the CPUs this process may use. Inputs come
from ``--seed`` (perfbench/gen.py) and every output is checked against
the counts the generator knows by construction.

Workloads (why each exists):

- ``ingest`` (perfbench/ingest.py): a range backfill, then single-day
  arrivals. The same layers are used two ways: the backfill is
  dominated by data volume, a daily run by its fixed cost, so a fix for
  one shows on its own metric and leaves the other flat.
- ``serve`` (perfbench/serve.py): one dashboard user in a closed loop
  over a month of marts. It exercises queries/geoqueries over
  partitioned parquet on cache misses and serving_cache on repeats,
  and no pipeline layer outside its fixture.

End-to-end metrics (``--trace 0``). The result line of every workload
carries the same metrics, so each is defined for both:

| metric | ingest | serve |
|---|---|---|
| setup_s | session (JVM launch included) + ``cli.load_dims`` | session (JVM launch included) + dims + ApiContext + server bind |
| p50_ms | median wall time of the daily ``run --date --checks`` arrivals (see ingest.py) | median view time, first request sent to last response read |
| per_s | curated rows per second of the backfill ``run`` | views completed per second |

``setup_s`` is the set-up a deployment pays: a cron ``run`` or a
server start is a new process, so the set-up is timed once per run,
from the process's first ``get_spark()`` on, and the JVM launch with
the session defaults' JVM options is part of it. A second set-up in
the same process reuses the JVM and would time something no deployment
does; a second process costs another JVM launch (10-14 s on 4 cores)
in every run, which the time budget of the benchmark's runs does not
hold. Input generation happens before the clock.
``--seconds`` is the length of the serve loop; the ingest workload
does a fixed amount of work (about a minute).

The human-readable report also prints the figures in the workloads'
own terms (backfill_s, day_p50_s, view_p50_ms, views_per_s,
miss_p50_ms, the highest view percentile with ten samples beyond it)
and peak_rss_mb, the peak RSS of the driver JVM plus this process. Peak
RSS is not a bounded metric: the JVM heap grows with garbage-collector
timing, and five runs of one workload spread by a quarter of their
median.

Failures are counted, not hidden: ``attempted`` counts every CLI run,
request and correctness check, ``failed`` those that failed, so the
error ratio is failed / attempted (it is also printed). A reported
metric must never read 0, so the ratio, 0 on a healthy run, is not
one of them.

``--trace 1`` is a separate run: it wraps the program's public
functions from outside (perfbench/spans.py), reads Spark's event log,
prints the per-layer table (perfbench/layers.py has the per-layer ->
end-to-end map) beside the end-to-end numbers it measured, and reports
the per-layer metrics. Compare those end-to-end numbers with an
untraced run to see the tracing overhead.

Out of scope: serving while a day lands (on a few cores that measures
contention, not the program; the two ingest phases already use the
same layers two ways), spans inside the program, and bench.py's
query suite.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
if str(HERE) not in sys.path:
    sys.path.insert(0, str(HERE))

from runtime import ROOT, Runtime, configure_env, load_probe  # noqa: E402

E2E = ("setup_s", "p50_ms", "per_s")


def _print_table(title: str, rows: dict) -> None:
    print(f"\n{title}")
    for name, value in rows.items():
        print(f"  {name:<58} {value:>12.4f}")


def _report_trace(rt, workload: str, result: dict) -> dict:
    import layers

    tracer = rt.tracer
    metrics = dict.fromkeys((n for n, _u in layers.names()), 0.0)
    metrics.update(layers.setup_metrics(tracer))
    if workload == "ingest":
        found, table = layers.ingest_metrics(tracer, result["ops"])
        for phase, rows in table.items():
            runs = len(rows[("(phase wall)",)])
            print(f"\nphase {phase}: seconds summed over {runs} run(s); the"
                  " top-level spans plus unattributed add up to the wall time")
            print(f"  {'span':<58} {'total_s':>10} {'self_s':>10}")
            for path, vals in rows.items():
                name = "  " * (len(path) - 1) + path[-1]
                print(f"  {name:<58} {sum(v[0] for v in vals):>10.3f}"
                      f" {sum(v[1] for v in vals):>10.3f}")
    else:
        found, table = layers.serve_metrics(tracer, result)
        _print_table("serve loop", table)
    metrics.update(found)
    tracer.dump(rt.work.parent / f"spans-{rt.work.name}.jsonl")
    _print_table("per-layer metrics", metrics)
    return {n: {"value": metrics[n], "unit": u} for n, u in layers.names()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=("ingest", "serve"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-fixture", type=Path, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if args.build_fixture:
        cpus = configure_env(args.build_fixture / "work")
        import serve

        serve.build_fixture(args.build_fixture, cpus)
        return 0
    if not args.workload:
        ap.error("--workload is required")

    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{time.time_ns()}"
    cpus = configure_env(work)
    import ingest
    import serve
    from spans import Tracer

    rt = Runtime(work=work, seed=args.seed, seconds=args.seconds, cpus=cpus)
    rt.record.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                     trace=args.trace, cpus=cpus, probe_before=load_probe())
    if args.trace:
        rt.tracer = Tracer(work / "eventlog")
        rt.tracer.install()
    try:
        result = {"ingest": ingest.run, "serve": serve.run}[args.workload](rt)
        peak = rt.peak_rss_mb()
    finally:
        rt.shutdown()
    rt.record["probe_after"] = load_probe(marker=False)
    e2e = result["e2e"]
    result["human"]["peak_rss_mb"] = (peak, "MB")

    rt.record["error_ratio"] = rt.failed / max(1, rt.attempted)
    print(f"\n{args.workload}: seed {args.seed}, attempted {rt.attempted}, "
          f"failed {rt.failed}, error_ratio {rt.record['error_ratio']:.4f}")
    _print_table("end-to-end", {
        f"{k} [{u}]": v for k, (v, u) in {**e2e, **result["human"]}.items()
    })
    if args.trace:
        metrics = _report_trace(rt, args.workload, result)
        rt.tracer.uninstall()
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in E2E}
    rt.record["metrics"] = {k: v["value"] for k, v in metrics.items()}
    (work.parent / f"record-{work.name}.json").write_text(
        json.dumps(rt.record, default=str, indent=1)
    )
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": rt.failed == 0,
        "attempted": rt.attempted,
        "failed": rt.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
