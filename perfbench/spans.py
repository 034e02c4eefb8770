"""Spans recorded from outside the program, plus Spark task counts.

Only the benchmark process is patched: the public functions the
pipeline and the API call through module attributes are replaced with
wrappers that record a span (name, start, end, parent) and tag the
Spark jobs they start with ``setJobGroup(<span id>)``. The Spark event
log (enabled through ``get_spark(extra_conf=...)``) then attributes
every task to the innermost span by job group; ``callSite.short`` is
absent from job properties, so job groups are the only reliable key.

``curated_from_raw``, ``enrich``, ``new_rows_only`` and ``marts.*``
are lazy: their spans measure planning. The actions inside
``pipeline.process_batch`` are wrapped the same way and named by role:
``curate_dedup`` (checkpoint of the anti-joined batch and its count),
``batch_count`` (``curated_batch.count()``, which re-runs the
transform), ``enrich`` (enrich checkpoint) and ``spillover`` (affected
days collect and prior-day merge checkpoint).

Spans stay in memory; :meth:`Tracer.dump` writes them out at the end.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass
from pathlib import Path

MART_BUILDERS = (
    "focos_diario_municipio", "focos_diario_uf", "focos_diario_bioma",
    "focos_diario_uc", "focos_diario_ti", "focos_mensal_municipio",
    "focos_mensal_uf", "mv_focos_day_dim", "focos_diario_uf_trend",
)
PUBLISHED_TABLES = (
    "enriched_focos", "focos_diario_municipio", "focos_diario_uf",
    "focos_diario_bioma", "focos_diario_uc", "focos_diario_ti",
    "focos_mensal_municipio", "focos_mensal_uf", "mv_focos_day_dim",
    "focos_diario_uf_trend",
)
# spans that only build a lazy plan (plus the CSV header read)
PLAN_SPANS = (
    ("sources.read_csv_all_string", "transform.curated_from_raw",
     "enrich.new_rows_only", "enrich.enrich")
    + tuple(f"marts.{m}" for m in MART_BUILDERS)
)
SPARK_FIELDS = (
    "jobs", "tasks", "executor_run_ms", "gc_ms", "scheduler_delay_ms",
    "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    phase: str | None
    start: float
    end: float = 0.0
    attrs: dict | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, event_log_dir: Path):
        self.event_log_dir = event_log_dir
        self.spans: list[Span] = []
        self.phase: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self._batch_roles: dict = {}

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @staticmethod
    def _set_group(span: Span | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"s{span.sid}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sp = Span(len(self.spans), name, parent.sid if parent else None,
                      self.phase, time.perf_counter(), attrs=attrs or None)
            self.spans.append(sp)
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._set_group(parent)

    # -- patching ------------------------------------------------------

    def _patch(self, owner, attr: str, namer) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(namer(args)):
                return orig(*args, **kwargs)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the pipeline's and the API's public entry points."""
        from inpe_queimadas_etl_spark import api, cli, marts, pipeline, session
        from pyspark.sql.classic.dataframe import DataFrame

        fixed = lambda n: (lambda args: n)  # noqa: E731
        self._patch(session, "get_spark", fixed("session.get_spark"))
        self._patch(cli, "load_dims", fixed("cli.load_dims"))
        self._patch(pipeline, "run_range", fixed("pipeline.run_range"))
        self._patch(pipeline, "read_csv_all_string", fixed("sources.read_csv_all_string"))
        self._patch(pipeline, "curated_from_raw", fixed("transform.curated_from_raw"))
        self._patch(pipeline, "write_validation_report", fixed("checks.report"))
        for m in MART_BUILDERS:
            self._patch(marts, m, fixed(f"marts.{m}"))
        W = pipeline.Warehouse
        self._patch(W, "read", fixed("warehouse.read"))
        self._patch(W, "append", fixed("warehouse.append"))
        self._patch(W, "overwrite_partitions", lambda a: f"warehouse.publish.{a[2]}")
        self._patch(W, "overwrite", lambda a: f"warehouse.publish.{a[2]}")
        self._patch_handler(api)
        self._patch_batch(pipeline, DataFrame)

    def _patch_handler(self, api) -> None:
        """``serve``'s handler resolves ``api.handle_request`` per call;
        each span keeps the request URL so the client can pair it."""
        import urllib.parse

        orig = api.handle_request

        @functools.wraps(orig)
        def handle_request(ctx, path, params):
            name = "api." + path.strip("/").removeprefix("api/").replace("/", "_")
            query = urllib.parse.urlencode(sorted(params.items()))
            with self.span(name, url=f"{path}?{query}"):
                return orig(ctx, path, params)

        self._undo.append((api, "handle_request", orig))
        api.handle_request = handle_request

    def _patch_batch(self, pipeline, DataFrame) -> None:
        """Name the actions inside process_batch by role. Roles key on
        the DataFrame objects the wrapped builders return, so a later
        reordering of process_batch keeps its names."""
        roles = self._batch_roles
        orig_batch = pipeline.process_batch
        orig_nro, orig_enrich = pipeline.new_rows_only, pipeline.enrich

        def process_batch(spark, warehouse, curated_batch, dims):
            roles.clear()
            roles.update(
                count={id(curated_batch): "pipeline.batch_count"},
                checkpoint={},
                enriched=False,
            )
            with self.span("pipeline.process_batch") as sp:
                out = orig_batch(spark, warehouse, curated_batch, dims)
                sp.attrs = {k: out.get(k) for k in ("rows_in_batch", "rows_new")}
                return out

        def new_rows_only(*args, **kwargs):
            with self.span("enrich.new_rows_only"):
                out = orig_nro(*args, **kwargs)
            roles["checkpoint"][id(out)] = "pipeline.curate_dedup"
            return out

        def enrich(*args, **kwargs):
            with self.span("enrich.enrich"):
                out = orig_enrich(*args, **kwargs)
            roles["checkpoint"][id(out)] = "pipeline.enrich"
            return out

        for attr, fn in (
            ("process_batch", process_batch),
            ("new_rows_only", new_rows_only),
            ("enrich", enrich),
        ):
            self._undo.append((pipeline, attr, getattr(pipeline, attr)))
            setattr(pipeline, attr, fn)

        def action(kind: str):
            orig = getattr(DataFrame, kind)
            table = "checkpoint" if kind == "localCheckpoint" else "count"

            @functools.wraps(orig)
            def wrapper(df, *args, **kwargs):
                cur = self.current()
                if cur is None or cur.name != "pipeline.process_batch":
                    return orig(df, *args, **kwargs)
                role = roles[table].get(id(df))
                if role is None:
                    role = ("pipeline.spillover" if roles["enriched"]
                            else "pipeline.other")
                with self.span(role):
                    out = orig(df, *args, **kwargs)
                if kind == "localCheckpoint":
                    # the checkpointed batch's own count is part of its role
                    roles["count"][id(out)] = role
                    roles["enriched"] |= role == "pipeline.enrich"
                return out

            self._undo.append((DataFrame, kind, orig))
            setattr(DataFrame, kind, wrapper)

        for kind in ("localCheckpoint", "count", "collect"):
            action(kind)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- analysis ------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                out[sp.parent].append(sp)
        return out

    def self_seconds(self, sp: Span, kids: dict[int, list[Span]]) -> float:
        return sp.seconds - sum(k.seconds for k in kids.get(sp.sid, ()))

    def descendants(self, root: Span, kids) -> list[Span]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, ()))
        return out

    def spark_by_span(self) -> dict[int, dict[str, float]]:
        """Task metrics from the event log, keyed by span id. Each set-up
        round starts its own SparkContext, whose log file numbers jobs
        and stages from 0 again, so ids are resolved per file."""
        per: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0))
        for path in sorted(self.event_log_dir.glob("*")):
            if not path.is_file():
                continue
            stage_group: dict[int, str] = {}
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if group and group.startswith("s"):
                            per[int(group[1:])]["jobs"] += 1
                            for st in ev.get("Stage IDs", ()):
                                stage_group.setdefault(st, group)
                    elif kind == "SparkListenerTaskEnd":
                        group = stage_group.get(ev.get("Stage ID"))
                        if group is None:
                            continue
                        m = ev.get("Task Metrics") or {}
                        info = ev.get("Task Info") or {}
                        acc = per[int(group[1:])]
                        run = m.get("Executor Run Time", 0)
                        dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                        acc["tasks"] += 1
                        acc["executor_run_ms"] += run
                        acc["gc_ms"] += m.get("JVM GC Time", 0)
                        acc["scheduler_delay_ms"] += max(
                            0,
                            dur - run
                            - m.get("Executor Deserialize Time", 0)
                            - m.get("Result Serialization Time", 0),
                        )
                        acc["shuffle_write_bytes"] += (
                            m.get("Shuffle Write Metrics") or {}
                        ).get("Shuffle Bytes Written", 0)
                        acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )
        return per

    def dump(self, path: Path) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")
