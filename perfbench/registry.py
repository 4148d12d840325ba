"""The ``registry`` workload: named queries from the ``plans`` registry.

Each query is built with its ``QueryDef.fn`` and forced through a
``noop`` write, all in one session, in the order the seed sets (seed 0
keeps registry order).  The query list is a fixed, evenly spaced sample
of the registry -- every 33rd query without the ``streaming`` tag, which
takes at least one query of each plan family, and every 20th with it --
so that passes over it reach a settled JIT and repeat inside the run
length; the sample is part of the workload definition and never depends
on the seed.

The first ``WARM_PASSES`` passes are not timed: in a fresh JVM the same
queries take four times as long, and a pass reaches its settled time
only after about three.  The first of them collects each query's rows
instead of writing them to ``noop``, and after the timed passes those
rows are checked against the DuckDB oracle of each query by the rule of
``scripts/oracle_check.py``: same columns, same row count, and the same
rows once columns are sorted by name, cells normalized and rows sorted
(``oracle_check.normalize``).  A query without an oracle must return rows.
"""

from __future__ import annotations

import os
import random
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from statistics import median

BATCH_SAMPLE = (33, 14)  # (stride, offset) into the untagged queries
STREAMING_SAMPLE = (20, 10)  # and into the streaming-tagged ones
WARM_PASSES = 3


def query_list(seed: int) -> list[str]:
    from streambench_spark.plans.queries import REGISTRY

    picked = set()
    for streaming, (stride, offset) in ((False, BATCH_SAMPLE), (True, STREAMING_SAMPLE)):
        names = [n for n, q in REGISTRY.items() if ("streaming" in q.tags) == streaming]
        picked.update(names[offset::stride])
    names = [n for n in REGISTRY if n in picked]
    if seed:
        random.Random(seed).shuffle(names)
    return names


def family(name: str) -> str:
    """Plan family of a query: the plans module that defines it."""
    from streambench_spark.plans.queries import REGISTRY

    return {
        "queries": "core",
        "analytics_queries": "analytics",
        "llm_queries": "llm",
        "tpch_queries": "tpch",
    }.get(REGISTRY[name].fn.__module__.rsplit(".", 1)[-1], "core")


@dataclass
class Execution:
    name: str
    build_s: float = 0.0
    exec_s: float = 0.0
    error: str | None = None
    columns: list[str] | None = None
    rows: list | None = field(default=None, repr=False)

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s


def _error_text(exc: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(exc), exc)).strip()[-500:]


def _span(tracer, name: str, layer: str, **kw):
    return tracer.span(name, layer, **kw) if tracer is not None else nullcontext()


def run_pass(spark, data_dir: str, names: list[str], tracer=None,
             collect: bool = False) -> list[Execution]:
    """One pass over ``names``; ``collect`` keeps each query's rows for
    the output check instead of writing them to ``noop``."""
    from streambench_spark.plans.queries import REGISTRY

    sc = spark.sparkContext
    runs: list[Execution] = []
    for name in names:
        ex = Execution(name)
        runs.append(ex)
        if tracer is not None:
            sc.setJobGroup(name, name)
        try:
            with _span(tracer, name, "query", trace_id=name):
                t0 = time.perf_counter()
                try:
                    with _span(tracer, "build", "plans"):
                        df = REGISTRY[name].fn(spark, data_dir)
                finally:
                    ex.build_s = time.perf_counter() - t0
                t1 = time.perf_counter()
                try:
                    if collect:
                        ex.rows = [tuple(r) for r in df.collect()]
                        ex.columns = df.columns
                    else:
                        with _span(tracer, "noop-write", "exec"):
                            df.write.format("noop").mode("overwrite").save()
                finally:
                    ex.exec_s = time.perf_counter() - t1
        except Exception as exc:  # a failed query is recorded, not fatal
            ex.error = _error_text(exc)
    if tracer is not None:
        sc.setJobGroup("perfbench", "benchmark bookkeeping")
    for q in spark.streams.active:  # a query must not leave a stream running
        q.stop()
    return runs


def warm_up(spark, data_dir: str, names: list[str]) -> list[Execution]:
    """The untimed passes; the first collects the rows to check."""
    runs = run_pass(spark, data_dir, names, collect=True)
    for _ in range(WARM_PASSES - 1):
        runs += run_pass(spark, data_dir, names)
    return runs


def run_passes(spark, data_dir: str, names: list[str], seconds: float,
               tracer=None) -> tuple[list[Execution], list[float]]:
    """Timed passes over ``names`` until ``seconds`` have passed.
    Returns every execution and each pass's wall time."""
    runs: list[Execution] = []
    walls: list[float] = []
    t_begin = time.perf_counter()
    while True:
        p0 = time.perf_counter()
        runs += run_pass(spark, data_dir, names, tracer)
        walls.append(time.perf_counter() - p0)
        if time.perf_counter() - t_begin >= seconds:
            return runs, walls


def query_medians(runs: list[Execution]) -> dict[str, float]:
    """Each query's median wall time over its successful executions."""
    times: dict[str, list[float]] = {}
    for r in runs:
        if r.error is None:
            times.setdefault(r.name, []).append(r.wall_s)
    return {n: median(t) for n, t in times.items()}


@contextmanager
def traced_catalog(tracer):
    """Record a ``catalog`` span around every ``load_table`` call made by
    the engine's modules while the block runs."""
    from streambench_spark import catalog

    original = catalog.load_table

    def load_table(*args, **kwargs):
        with tracer.span("load_table", "catalog", table=args[-1] if args else None):
            return original(*args, **kwargs)

    patched = [m for name, m in list(sys.modules.items())
               if name.startswith("streambench_spark.")
               and getattr(m, "load_table", None) is original]
    for m in patched:
        m.load_table = load_table
    try:
        yield
    finally:
        for m in patched:
            m.load_table = original


@contextmanager
def counted_mkdtemp():
    """Count the temp dirs created while the block runs."""
    original = tempfile.mkdtemp
    made = []

    def mkdtemp(*args, **kwargs):
        path = original(*args, **kwargs)
        made.append(path)
        return path

    tempfile.mkdtemp = mkdtemp
    try:
        yield made
    finally:
        tempfile.mkdtemp = original


def _oracle_con(data_dir: str):
    import duckdb

    from streambench_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _normalize():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scripts = os.path.join(root, "scripts")
    if scripts not in sys.path:
        sys.path.append(scripts)
    from oracle_check import normalize

    return normalize


def check_outputs(data_dir: str, runs: list[Execution]) -> dict[str, str]:
    """Compare the collected rows of each query with its oracle; returns
    {query: reason} for every mismatch."""
    from streambench_spark.plans.queries import REGISTRY

    normalize = _normalize()
    con = _oracle_con(data_dir)
    bad: dict[str, str] = {}
    seen: set[str] = set()
    try:
        for ex in runs:
            if ex.error is not None or ex.rows is None or ex.name in seen:
                continue
            seen.add(ex.name)
            try:
                cols = ex.columns
                got = normalize(ex.rows, cols)
                sql = REGISTRY[ex.name].oracle
                if sql is None:
                    if not got:
                        bad[ex.name] = "no oracle and no rows"
                    continue
                res = con.execute(sql)
                ocols = [d[0] for d in res.description]
                want = normalize(res.fetchall(), ocols)
                if sorted(cols) != sorted(ocols):
                    bad[ex.name] = f"columns {sorted(cols)} != oracle {sorted(ocols)}"
                elif len(got) != len(want):
                    bad[ex.name] = f"{len(got)} rows != oracle {len(want)}"
                elif got != want:
                    bad[ex.name] = "row values differ from oracle"
            except Exception as exc:
                bad[ex.name] = "check raised: " + _error_text(exc)
    finally:
        con.close()
    return bad
