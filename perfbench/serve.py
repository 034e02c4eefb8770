"""The ``serve`` workload: the read path, one dashboard user.

The warehouse it serves is a fixture: FIXTURE_DAYS landed days built
once per checkout with the same ``run --start/--end`` path the ingest
workload times, in a child process, and reused by later runs (its
build takes longer than one run may). The fixture's data seed is
fixed; ``--seed`` draws the traffic.

Set-up, timed once as a server start pays it: the session (JVM launch
included), ``cli.load_dims``, an ``ApiContext`` wired like a
deployment (plain ``Warehouse.read`` of the published tables plus
``geoprep`` geometry, nothing cached by the benchmark) and
``api.serve`` bound to a free port.

Traffic is a closed loop with zero think time. Each step is a *view*:
a filter state (range plus an optional ``uf`` or ``bioma`` filter)
whose six panels go out concurrently over at most ``nproc``
connections: summary, timeseries/total, top, totals, choropleth/uf
(choropleth/mun under a uf filter) and points for the view's last day
in a bbox. Filter states come from a fixed catalog, Zipf-weighted,
with the default 30-day unfiltered view most popular.

Views come in blocks of ten with a fixed mix, so the hit/miss sequence
depends on the seed only, never on speed:

- 2 ``new`` (N): a state not shown before; every panel misses. One
  is wide (no filter or a biome), one filters a UF.
- 4 ``pan`` (P): a state shown before, with a new bbox over the
  state's points; only points misses.
- 1 ``empty pan`` (E): as P, over a bbox with no points (an empty
  points answer takes another path, about twice as slow).
- 3 ``refresh`` (R): the previous view again, seconds later; all hits.

So refreshes fill the fastest 30 % of views and new views the slowest
20 %: the median lies inside the pans and no reported percentile sits
on a boundary between the modes. The loop lasts about ``--seconds``,
far below the 300 s general cache TTL; a points URL repeats only in
the next view or never (30 s TTL); and the cache counters must equal
what the sequence predicts. Every answer is checked against the
fixture: totals against the landed counts, and points row for row
against the landed rows of that day in the bbox.
"""

from __future__ import annotations

import datetime as dt
import fcntl
import hashlib
import http.client
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

import gen
from runtime import ROOT, tail_percentile

FIXTURE_SEED = 0
FIXTURE_START = dt.date(2024, 8, 1)
FIXTURE_DAYS = 30
FIXTURE_ROWS = 600
BLOCK = ("Nw", "Nu") + ("P",) * 4 + ("E",) + ("R",) * 3
# A block takes about this long on 4 cores. The loop runs
# --seconds / BLOCK_SECONDS blocks: the same work on every run, so a
# faster machine does not also run extra, warmer blocks.
BLOCK_SECONDS = 4.0
WINDOWS = (7, 14, 30)
END_OFFSETS = (0, 1, 2, 3)
POINTS_LIMIT = 5000
GRID = (gen.LON0, gen.LAT0, gen.LON0 + gen.UF_COLS * gen.UF_SIZE, gen.LAT0 + 3 * gen.UF_SIZE)


# -- fixture -----------------------------------------------------------


def _source_key() -> str:
    """Hash of the package and generator sources: a fixture built by
    other code is never reused."""
    h = hashlib.sha1()
    files = sorted((ROOT / "inpe_queimadas_etl_spark").rglob("*.py"))
    for p in files + [Path(gen.__file__)]:
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def ensure_fixture(rt) -> Path:
    base = ROOT / ".bench_work"
    final = base / f"serve-fixture-{_source_key()}"
    base.mkdir(parents=True, exist_ok=True)
    with open(base / "serve-fixture.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (final / "manifest.json").exists():
            tmp = base / f"serve-fixture-build-{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(final, ignore_errors=True)
            subprocess.run(
                [sys.executable, str(Path(__file__).with_name("run.py")),
                 "--build-fixture", str(tmp)],
                check=True, timeout=600, stdout=sys.stderr,
            )
            tmp.rename(final)
            rt.record["fixture_built_here"] = True
    return final


def build_fixture(out: Path, cpus: int) -> None:
    """Child-process entry: land FIXTURE_DAYS days and run one range
    backfill over them, then record the expected counts."""
    from runtime import Runtime

    from inpe_queimadas_etl_spark import cli

    rt = Runtime(work=out / "work", seed=FIXTURE_SEED, seconds=0, cpus=cpus)
    gen.write_dims(out / "dims", FIXTURE_SEED)
    land = gen.write_landing(out / "landing", FIXTURE_START, [FIXTURE_ROWS] * FIXTURE_DAYS, FIXTURE_SEED)
    rt.get_spark()
    t0 = time.perf_counter()
    rc = cli.main([
        "run", "--start", str(land.days[0]), "--end", str(land.days[-1]),
        "--landing-dir", str(out / "landing"), "--warehouse", str(out / "wh"),
        "--dims-dir", str(out / "dims"), "--checks",
    ])
    build_s = time.perf_counter() - t0
    rt.shutdown()
    if rc != 0:
        raise SystemExit(f"fixture build failed: run exited {rc}")
    counts = [
        [str(k[0]), k[1], k[2], k[3], n]
        for k, n in land.expected(land.days).items()
    ]
    points = [[str(p[0]), *p[1:]] for d in land.days for p in land.points[d]]
    shutil.rmtree(out / "work", ignore_errors=True)
    (out / "manifest.json").write_text(json.dumps({
        "build_s": build_s, "days": FIXTURE_DAYS, "rows_per_day": FIXTURE_ROWS,
        "last_day": str(land.days[-1]), "counts": counts, "points": points,
    }))


# -- traffic -----------------------------------------------------------


@dataclass(frozen=True)
class State:
    frm: dt.date
    to: dt.date  # exclusive
    key: str | None = None  # "uf" | "bioma"
    value: str | None = None

    def params(self) -> dict:
        p = {"from": str(self.frm), "to": str(self.to)}
        if self.key:
            p[self.key] = self.value
        return p


@dataclass(frozen=True)
class View:
    kind: str  # N, P, E or R
    state: State
    bbox: tuple[float, float, float, float]

    def urls(self) -> list[str]:
        p = self.state.params()
        choro = "choropleth/mun" if self.state.key == "uf" else "choropleth/uf"
        panels = [
            ("summary", p), ("timeseries/total", p),
            ("top", {**p, "group": "uf", "limit": "10"}), ("totals", p),
            (choro, p),
            ("points", {
                **({self.state.key: self.state.value} if self.state.key else {}),
                "date": str(self.state.to - dt.timedelta(days=1)),
                "bbox": ",".join(f"{v:.3f}" for v in self.bbox),
                "limit": str(POINTS_LIMIT),
            }),
        ]
        return [url(ep, q) for ep, q in panels]


def url(endpoint: str, params: dict) -> str:
    return f"/api/{endpoint}?" + urllib.parse.urlencode(sorted(params.items()))


def catalog(last_day: dt.date, rnd: random.Random) -> list[State]:
    """Filter states in popularity order: the default 30-day
    unfiltered view first, the rest in a seeded order."""
    to = last_day + dt.timedelta(days=1)
    filters = [(None, None)] + [("uf", u) for u in gen.UFS] + [
        ("bioma", name) for name in gen.BIOME_NAME.values()
    ]
    states = [
        State(to - dt.timedelta(days=off + w), to - dt.timedelta(days=off), k, v)
        for w in WINDOWS for off in END_OFFSETS for k, v in filters
    ]
    head = State(to - dt.timedelta(days=30), to)
    rest = [s for s in states if s != head]
    rnd.shuffle(rest)
    return [head] + rest


def _extent(state: State) -> tuple[float, float, float, float]:
    """Where the state's points lie: its UF block, its biome band, or
    the whole grid."""
    if state.key == "uf":
        u = gen.UFS.index(state.value)
        x0 = gen.LON0 + (u % gen.UF_COLS) * gen.UF_SIZE
        y0 = gen.LAT0 + (u // gen.UF_COLS) * gen.UF_SIZE
        return x0, y0, x0 + gen.UF_SIZE, y0 + gen.UF_SIZE
    if state.key == "bioma":
        lo, hi = next((lo, hi) for _c, n, lo, hi in gen.BIOMES if n == state.value)
        return (gen.LON0 + lo * gen.UF_SIZE, GRID[1],
                gen.LON0 + (hi + 1) * gen.UF_SIZE, GRID[3])
    return GRID


def _bbox(state: State, kind: str, rnd: random.Random, seen: set) -> tuple:
    """A bbox never used before: over the state's whole extent (so the
    panel returns points), or, for an ``E`` pan, over empty sea east
    of the grid (so it returns none)."""
    while True:
        if kind == "E":
            x, y = rnd.uniform(-42.0, -38.0), rnd.uniform(-22.0, -18.0)
            box = (x, y, x + rnd.uniform(1.0, 3.0), y + rnd.uniform(1.0, 3.0))
        elif state.key:
            x0, y0, x1, y1 = _extent(state)
            box = tuple(v + sign * rnd.uniform(0.05, 0.5) for v, sign in (
                (x0, -1), (y0, -1), (x1, 1), (y1, 1)))
        else:
            w = rnd.uniform(6.0, 10.0)
            x, y = rnd.uniform(GRID[0], GRID[2] - w), rnd.uniform(GRID[1], GRID[3] - w)
            box = (x, y, x + w, y + w)
        box = tuple(round(v, 3) for v in box)
        if box not in seen:
            seen.add(box)
            return box


def traffic(seed: int, last_day: dt.date):
    """Endless seeded view sequence, one block of ten at a time. A
    block's two new views are one wide state (no filter or a biome:
    choropleth/uf) and one UF state (choropleth/mun), so every block
    costs about the same whatever the seed."""
    rnd = random.Random(seed)
    states = catalog(last_day, rnd)
    weight = {s: 1.0 / (rank + 1) ** 1.1 for rank, s in enumerate(states)}
    unseen = {
        "Nw": [s for s in states if s.key != "uf"],
        "Nu": [s for s in states if s.key == "uf"],
    }
    seen, boxes, prev = [], set(), None
    while True:
        block = list(BLOCK)
        rnd.shuffle(block)
        if prev is None:  # the run opens on a new view
            block.remove("Nw")
            block.insert(0, "Nw")
        for kind in block:
            if kind == "R":
                view = View("R", prev.state, prev.bbox)
            else:
                pool = unseen[kind] if kind in unseen else seen
                state = rnd.choices(pool, weights=[weight[s] for s in pool])[0]
                if kind in unseen:
                    pool.remove(state)
                    seen.append(state)
                view = View(kind[0], state, _bbox(state, kind, rnd, boxes))
            prev = view
            yield view


# -- serving -----------------------------------------------------------


def build_context(spark, wh, dims):
    from inpe_queimadas_etl_spark import api, geoprep

    muns = dims["municipios"]
    mun_web = geoprep.municipios_web(muns)
    ufs = geoprep.ufs_web(mun_web)
    polycoords = geoprep.uf_polycoords_df(
        spark,
        geoprep.uf_polycoords(geoprep.uf_mainland_noholes(geoprep.uf_geom_mainland(ufs))),
    )
    return api.ApiContext(
        spark=spark,
        fact=wh.read(spark, "mv_focos_day_dim"),
        all_ufs=dims["uf_area"].select("uf"),
        enriched=wh.read(spark, "enriched_focos"),
        feats={
            "uf": [p for parts in ufs.values() for p in parts],
            "mun": muns, "uc": dims["ucs"], "ti": dims["tis"],
        },
        mun_web=geoprep.mun_web_df(spark, mun_web),
        chart_uf=geoprep.v_chart_uf_choropleth_day(
            wh.read(spark, "focos_diario_uf"), polycoords
        ),
        mun_web_feats=mun_web,
    )


class Served:
    def __init__(self, ctx, server):
        self.ctx, self.server = ctx, server
        self.thread = threading.Thread(target=server.serve_forever, daemon=True)
        self.thread.start()
        self.host, self.port = server.server_address[:2]

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)


def fetch(served: Served, path: str) -> tuple[int, dict | None, float]:
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection(served.host, served.port, timeout=120)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        raw = resp.read()
        status = resp.status
    except OSError:
        return -1, None, time.perf_counter() - t0
    finally:
        conn.close()
    seconds = time.perf_counter() - t0
    try:
        return status, json.loads(raw), seconds
    except ValueError:
        return status, None, seconds


# -- checks ------------------------------------------------------------


class Answers:
    def __init__(self, manifest: dict):
        self.counts = Counter({
            (dt.date.fromisoformat(d), uf, mun, bio): n
            for d, uf, mun, bio, n in manifest["counts"]
        })
        self.points: dict[dt.date, list] = {}
        for d, *rest in manifest["points"]:
            self.points.setdefault(dt.date.fromisoformat(d), []).append(rest)

    def total(self, s: State, attributed_only: bool = False) -> int:
        n = 0
        for (day, uf, _mun, bio), c in self.counts.items():
            if not (s.frm <= day < s.to):
                continue
            if attributed_only and uf is None:
                continue
            if s.key == "uf" and uf != s.value:
                continue
            if s.key == "bioma" and gen.BIOME_NAME.get(bio) != s.value:
                continue
            n += c
        return n

    def points_in(self, view: View) -> tuple[int, int]:
        """How many landed rows of the view's day lie in its bbox and
        match its filter, as (low, high). A biome filter may match
        INPE's own biome label or the enriched biome, which differ
        where the label is empty, so it gives a range; otherwise
        low = high."""
        s, (x0, y0, x1, y1) = view.state, view.bbox
        lo = hi = 0
        for lon, lat, uf, bio, label in self.points.get(s.to - dt.timedelta(days=1), ()):
            if not (x0 <= lon <= x1 and y0 <= lat <= y1):
                continue
            if s.key == "uf" and uf != s.value:
                continue
            if s.key == "bioma":
                lo += label == s.value
                hi += gen.BIOME_NAME.get(bio) == s.value
            else:
                lo, hi = lo + 1, hi + 1
        return lo, hi


def check_view(view: View, bodies: list, answers: Answers) -> list[bool]:
    """Per-panel verdicts. totals = sum(timeseries) = sum(choropleth)
    (FIXTURES.md section 5.4), the total is what was landed, and the
    points are exactly the landed rows of that day in the bbox."""
    s, total = view.state, answers.total(view.state)
    summary, ts, top, totals, choro, points = bodies
    choro_sum = sum(f["properties"]["n_focos"] for f in choro["geojson"]["features"])
    top_n = [i["n_focos"] for i in top["items"]]
    bbox = view.bbox
    lo, hi = answers.points_in(view)
    return [
        summary["total_n_focos"] == total,
        sum(i["n_focos"] for i in ts["items"]) == total,
        len(top_n) <= 10 and top_n == sorted(top_n, reverse=True) and sum(top_n) <= total,
        totals["total_n_focos"] == total,
        choro_sum == answers.total(s, attributed_only=True),
        lo <= points["returned"] == len(points["points"]) <= hi
        and all(
            bbox[0] <= p["lon"] <= bbox[2] and bbox[1] <= p["lat"] <= bbox[3]
            and (s.key != "uf" or p["uf"] == s.value)
            for p in points["points"]
        ),
    ]


# -- workload ----------------------------------------------------------


def run(rt) -> dict:
    from inpe_queimadas_etl_spark import api, cli
    from inpe_queimadas_etl_spark.pipeline import Warehouse

    fixture = ensure_fixture(rt)
    manifest = json.loads((fixture / "manifest.json").read_text())
    answers = Answers(manifest)
    last_day = dt.date.fromisoformat(manifest["last_day"])
    rt.record["sizes"] = {
        "fixture_days": manifest["days"], "rows_per_day": manifest["rows_per_day"],
        "fixture_build_s": manifest["build_s"],
    }
    # set-up as a server start pays it (see the module docstring)
    t0 = time.perf_counter()
    spark = rt.get_spark()
    dims = cli.load_dims(spark, str(fixture / "dims"))
    with rt.span("serve.setup.context"):
        ctx = build_context(spark, Warehouse(str(fixture / "wh")), dims)
    served = Served(ctx, api.serve(ctx, port=0))
    setup_s = time.perf_counter() - t0
    pool = ThreadPoolExecutor(max_workers=min(6, rt.cpus))
    try:
        return _traffic_loop(rt, served, pool, answers, last_day, setup_s)
    finally:
        pool.shutdown(wait=True)
        served.close()


def _traffic_loop(rt, served, pool, answers, last_day, setup_s) -> dict:
    # untimed warm pass: every endpoint under every filter shape, and an
    # empty points answer, on a range the catalog lacks (the first
    # query of each shape is several times slower than the next)
    frm, to = last_day - dt.timedelta(days=9), last_day + dt.timedelta(days=1)
    rnd, boxes, warm_urls = random.Random(-1), set(), []
    for key, value in ((None, None), ("uf", "BA"), ("bioma", "Cerrado")):
        state = State(frm, to, key, value)
        warm_urls += View("N", state, _bbox(state, "N", rnd, boxes)).urls()
        warm_urls.append(View("E", state, _bbox(state, "E", rnd, boxes)).urls()[-1])
    t0 = time.perf_counter()
    for f in [pool.submit(fetch, served, u) for u in warm_urls]:
        status, _body, _s = f.result()
        rt.count(status == 200, f"warm request status {status}")
    rt.record["warm_pass_s"] = time.perf_counter() - t0

    cache = served.ctx.cache
    c0 = (cache.general.hits, cache.general.misses, cache.points.hits, cache.points.misses)
    rt.set_phase("serve")
    views, requests = [], []  # (view, seconds); (url, seconds, first time sent)
    all_hit = 0  # views none of whose requests missed the cache
    sent: set = set()
    seq = traffic(rt.seed, last_day)
    blocks = max(1, round(rt.seconds / BLOCK_SECONDS))
    t_start = time.perf_counter()
    for _ in range(blocks):
        for _ in range(len(BLOCK)):
            view = next(seq)
            urls = view.urls()
            misses = cache.general.misses + cache.points.misses
            with rt.span("serve.view", kind=view.kind):
                t0 = time.perf_counter()
                results = [f.result() for f in [pool.submit(fetch, served, u) for u in urls]]
                seconds = time.perf_counter() - t0
            views.append((view, seconds))
            all_hit += cache.general.misses + cache.points.misses == misses
            for u, (_status, _body, s) in zip(urls, results):
                requests.append((u, s, u not in sent))
                sent.add(u)
            ok = [status == 200 and body is not None for status, body, _s in results]
            if all(ok):
                try:
                    ok = check_view(view, [b for _s, b, _t in results], answers)
                except (KeyError, TypeError) as exc:
                    ok = [False] * len(urls)
                    print(f"malformed response: {exc!r}", file=sys.stderr)
            for u, good in zip(urls, ok):
                rt.count(good, f"response check {u}")
    loop_s = time.perf_counter() - t_start

    kinds = Counter(v.kind for v, _s in views)
    pans = kinds["P"] + kinds["E"]
    predicted = (5 * (pans + kinds["R"]), 5 * kinds["N"], kinds["R"], kinds["N"] + pans)
    got = (
        cache.general.hits - c0[0], cache.general.misses - c0[1],
        cache.points.hits - c0[2], cache.points.misses - c0[3],
    )
    rt.count(got == predicted, f"cache hits/misses {got} != predicted {predicted}")

    view_ms = [s * 1000.0 for _v, s in views]
    miss_ms = [s * 1000.0 for _u, s, first in requests if first]
    tail = tail_percentile(view_ms)
    rt.record.update(
        views=len(views), requests=len(requests), view_kinds=dict(kinds),
        cache_general=[got[0], got[1]], cache_points=[got[2], got[3]],
        all_hit_views=all_hit,
        loop_s=loop_s,
        view_ms=[[v.kind, round(s * 1000.0, 3)] for v, s in views],
        view_p50_by_kind_ms={
            k: statistics.median(s * 1000.0 for v, s in views if v.kind == k) for k in kinds
        },
    )
    e2e = {
        "setup_s": (setup_s, "s"),
        "p50_ms": (statistics.median(view_ms), "ms"),
        "per_s": (len(views) / loop_s, "1/s"),
    }
    human = {
        "view_p50_ms": (statistics.median(view_ms), "ms"),
        "views_per_s": (len(views) / loop_s, "1/s"),
        "miss_p50_ms": (statistics.median(miss_ms), "ms"),
    }
    if tail:
        human[f"view_p{tail[0]}_ms"] = (tail[1], "ms")
    return {
        "e2e": e2e, "human": human, "views": views, "requests": requests,
        "loop_s": loop_s, "kinds": kinds, "cache": got, "all_hit_views": all_hit,
    }
