"""The ``ingest`` workload: the write path, as a cron job drives it.

0. warm-up (untimed): the first day, DAILY_ROWS rows, landed alone
   with ``run --date D --checks``. The first run in a JVM pays JIT
   compilation and Python-worker start-up, about 10 s on 4 cores, and
   the next one still varies by a third from run to run; this run
   takes that cost off the timed phases;
1. backfill: one ``run --start A --end B --checks`` over BACKFILL_DAYS
   later days of BACKFILL_ROWS_PER_DAY rows, as after a pipeline
   outage (CSV read, transform, enrich and append scale with the rows);
2. daily: DAILY_DAYS later days of DAILY_ROWS rows, each landed alone
   with ``run --date D --checks`` (dominated by the fixed cost of one
   run: ten write-audit-publish swaps, the validation report, the dims
   reload and the anti-join against the growing curated table).

The sizes keep a run near a minute, which the benchmark's total time
budget needs; that is also why there is one timed arrival (``p50_ms``
is the median of DAILY_DAYS arrivals). After the backfill and after
the arrivals the marts are checked against the generator's counts.
"""

from __future__ import annotations

import datetime as dt
import statistics
import time
import traceback
from collections import Counter
from pathlib import Path

import gen

START = dt.date(2024, 8, 1)
BACKFILL_DAYS = 2
BACKFILL_ROWS_PER_DAY = 20000
DAILY_DAYS = 1
DAILY_ROWS = 1500


def _run_cli(rt, argv: list[str], what: str) -> float:
    from inpe_queimadas_etl_spark import cli

    t0 = time.perf_counter()
    try:
        rc = cli.main(argv)
    except Exception as exc:  # a crashed run is a failed operation
        rc = f"{type(exc).__name__}: {exc}"
    seconds = time.perf_counter() - t0
    rt.count(rc == 0, f"{what} exited {rc}")
    return seconds


def _by(counter: Counter, *fields: int) -> Counter:
    out: Counter = Counter()
    for key, n in counter.items():
        sub = tuple(key[f] for f in fields)
        if None not in sub:
            out[sub] += n
    return out


def check_marts(rt, wh, expected: Counter, phase: str) -> None:
    """The marts hold exactly the generator's counts, and
    sum(daily mun) = sum(daily uf) = enriched rows with a municipality
    (FIXTURES.md section 5.2). A mart that cannot be read fails the
    check instead of ending the run."""
    try:
        _check_marts(rt, wh, expected, phase)
    except Exception:  # a missing or unreadable mart is a failed check
        traceback.print_exc()
        rt.count(False, f"{phase}: marts unreadable")


def _check_marts(rt, wh, expected: Counter, phase: str) -> None:
    from pyspark.sql import functions as F

    spark = rt.spark

    def rows(table, *cols):
        return Counter({
            tuple(r[:-1]): r[-1]
            for r in wh.read(spark, table).select(*cols).collect()
        })

    uf = rows("focos_diario_uf", "day", "uf", "n_focos")
    mun = rows("focos_diario_municipio", "day", "mun_cd_mun", "n_focos")
    bio = rows("focos_diario_bioma", "day", "code", "focos")
    fact = wh.read(spark, "mv_focos_day_dim").agg(F.sum("n_focos")).collect()[0][0]
    with_mun = wh.read(spark, "enriched_focos").filter(
        F.col("mun_cd_mun").isNotNull()
    ).count()
    rt.count(uf == _by(expected, 0, 1), f"{phase}: focos_diario_uf counts")
    rt.count(mun == _by(expected, 0, 2), f"{phase}: focos_diario_municipio counts")
    rt.count(bio == _by(expected, 0, 3), f"{phase}: focos_diario_bioma counts")
    rt.count(fact == sum(expected.values()), f"{phase}: mv_focos_day_dim total")
    rt.count(
        sum(mun.values()) == sum(uf.values()) == with_mun,
        f"{phase}: sum(mun) = sum(uf) = enriched with municipality",
    )


def _tree(root: Path) -> dict[str, int]:
    return {
        str(p.relative_to(root)): p.stat().st_size
        for p in root.rglob("*")
        if p.is_file() and not p.name.startswith((".", "_"))
    }


def run(rt) -> dict:
    from inpe_queimadas_etl_spark import cli
    from inpe_queimadas_etl_spark.pipeline import Warehouse

    dims_dir, landing, wh_dir = rt.work / "dims", rt.work / "landing", rt.work / "wh"
    gen.write_dims(dims_dir, rt.seed)
    sizes = [DAILY_ROWS] + [BACKFILL_ROWS_PER_DAY] * BACKFILL_DAYS + [DAILY_ROWS] * DAILY_DAYS
    land = gen.write_landing(landing, START, sizes, rt.seed)
    days = land.days
    rt.record["sizes"] = {
        "backfill_days": BACKFILL_DAYS, "backfill_rows_per_day": BACKFILL_ROWS_PER_DAY,
        "daily_days": DAILY_DAYS, "daily_rows": DAILY_ROWS,
        "csv_bytes": sum(land.csv_bytes.values()),
    }

    # set-up as a cron run pays it: the session, JVM launch included,
    # and the dims
    t0 = time.perf_counter()
    cli.load_dims(rt.get_spark(), str(dims_dir))
    setup_s = time.perf_counter() - t0
    wh = Warehouse(str(wh_dir))
    common = [
        "--landing-dir", str(landing), "--warehouse", str(wh_dir),
        "--dims-dir", str(dims_dir), "--checks",
    ]
    ops = []  # (phase, csv bytes in, warehouse files before, after)

    def timed(phase: str, argv: list[str], inputs: list[dt.date]):
        before = _tree(wh_dir) if rt.tracer else None
        with rt.span(f"op.{phase}"):
            seconds = _run_cli(rt, argv, f"{phase} {argv[1:5]}")
        after = _tree(wh_dir) if rt.tracer else None
        ops.append((phase, sum(land.csv_bytes[d] for d in inputs), before, after))
        return seconds

    first, hist = days[0], days[1:1 + BACKFILL_DAYS]
    rt.set_phase("warmup")
    warmup_s = timed("warmup", ["run", "--date", str(first)] + common, [first])
    rt.set_phase("backfill")
    backfill_s = timed("backfill", ["run", "--start", str(hist[0]), "--end", str(hist[-1])] + common, hist)
    check_marts(rt, wh, land.expected([first] + hist), "backfill")
    rt.set_phase("day")
    day_s = [timed("day", ["run", "--date", str(d)] + common, [d]) for d in days[1 + BACKFILL_DAYS:]]
    check_marts(rt, wh, land.expected(days), "daily")

    rows_landed = sum(sum(land.counts[d].values()) for d in hist)
    rt.record.update(
        warmup_s=warmup_s, backfill_s=backfill_s, day_s=day_s, backfill_rows=rows_landed
    )
    e2e = {
        "setup_s": (setup_s, "s"),
        "p50_ms": (statistics.median(day_s) * 1000.0, "ms"),
        "per_s": (rows_landed / backfill_s, "1/s"),
    }
    human = {
        "backfill_s": (backfill_s, "s"),
        "day_p50_s": (statistics.median(day_s), "s"),
        "backfill_rows_per_s": (rows_landed / backfill_s, "1/s"),
    }
    return {"e2e": e2e, "human": human, "ops": ops}
