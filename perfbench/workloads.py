"""The benchmark's three closed-loop workloads.

Each workload owns its seeded inputs, its op stream, the warm-up that ends
set-up, the execution of one op through the engine's public functions, and
the checks of the outputs. The engine sees only the generated inputs.

- ``dashboard``: the reference's four tabs over the cached warehouse views.
- ``sweep``: a one-shot pass over a stratified sample of the registered
  query library, larger than the plan cache.
- ``ingest``: JSON-stat cubes decoded and loaded into a parquet warehouse,
  with a read-back after every load and periodic compaction.
"""

from __future__ import annotations

import importlib
import math
import os
import shutil
import time
import weakref
from dataclasses import dataclass, field

import numpy as np

import datagen
import verify

PLAN_MODULES = (
    "relational",
    "insights",
    "analytics",
    "northstar",
    "events",
    "corpus",
    "graph",
    "funnel",
)


@dataclass
class Op:
    kind: str
    params: dict = field(default_factory=dict)


@dataclass
class Result:
    """What one op returned, kept for the checks after the timed window."""

    op: Op
    rows: object = None
    rows_out: int = 0


class PlanCalls:
    """Calls registered query callables and counts plan-cache hits: a hit is
    a call that returns the same DataFrame object as the previous call for
    that name. Weak references, so an evicted plan is not kept alive."""

    def __init__(self) -> None:
        self.last: dict[str, weakref.ref] = {}
        self.calls = 0
        self.hits = 0

    def reset_counts(self) -> None:
        self.calls = self.hits = 0

    def build(self, queries, name, spark, sf_dir):
        df = queries[name](spark, sf_dir)
        self.calls += 1
        prev = self.last.get(name)
        if prev is not None and prev() is df:
            self.hits += 1
        self.last[name] = weakref.ref(df)
        return df


# ---------------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------------

INTENT_QUESTIONS = (
    "which country has rising gep?",
    "Where is gross electricity production rising fastest?",
    "which nation shows increasing GEP",
    "show me growing gross electricity output",
    "is gep rising anywhere",
    "rising GEP leaders",
)
SEMANTIC_TEMPLATES = (
    "{geo} {ind} trend",
    "how is {ind} changing in {geo}",
    "{ind} declining",
    "stable {ind} over time",
    "{geo} energy consumption slope",
)
SEMANTIC_INDICATORS = (
    "household energy consumption",
    "transport energy consumption",
    "final energy consumption",
    "industrial energy consumption",
    "commercial services consumption",
)

DASH_QUERIES = (
    "q_dash_top10_latest",
    "q_dash_between_top10",
    "q_dash_heatmap",
    "q_dash_pivot_types",
    "q_dash_domains",
    "q_dash_year_range",
)


def build_views(eng, spark, sf_dir: str, tracer) -> float:
    """First materialisation of the cached observations and yearly-series
    views; returns its wall in ms."""
    t0 = time.perf_counter()
    with tracer.span("catalog.view_build"):
        eng.catalog.observations_view(spark, sf_dir).count()
        eng.insights.yearly_series_view(spark, sf_dir).count()
    return (time.perf_counter() - t0) * 1000.0


QUERY_KINDS = ("top10", "series", "heatmap", "pivot", "domains")


def _dash_queries(op: Op) -> list[str]:
    """Registered queries a dashboard query op runs (series filters the
    heatmap query's DataFrame by country, as the app does)."""
    return {
        "top10": [op.params.get("query")],
        "series": ["q_dash_heatmap"],
        "heatmap": ["q_dash_heatmap"],
        "pivot": ["q_dash_pivot_types"],
        "domains": ["q_dash_domains", "q_dash_year_range"],
    }[op.kind]


class Dashboard:
    name = "dashboard"
    sf = 0.1
    # One deck of ops, shuffled by the seed; the timed loop runs whole decks.
    # Latency bands: single cached queries (~30 ms warm) are 76% of a deck, so
    # the p50 falls well inside them; domains (two queries) and the
    # per-country series (a new plan on a cached one) sit above them;
    # charts and intent answers fill 84-96%, so the p90 (printed on the
    # context line) falls mid-band; one forecast and one semantic answer
    # per deck sit above it.
    DECK = (
        ("top10:q_dash_top10_latest", 7),
        ("top10:q_dash_between_top10", 6),
        ("heatmap", 13),
        ("pivot", 12),
        ("domains", 2),
        ("series", 2),
        ("chart:trend", 2),
        ("chart:top", 1),
        ("chart:heatmap", 1),
        ("chat:intent", 2),
        ("chat:semantic", 1),
        ("forecast", 1),
    )
    deck_len = sum(n for _, n in DECK)
    min_decks = 2  # 100 ops: the p50 of one deck moved up to 20% between decks

    def __init__(self, rng: np.random.Generator, sf_dir: str, work_dir: str, sf: float) -> None:
        self.rng = rng
        self.sf = sf
        self.sf_dir = sf_dir
        self.out_dir = os.path.join(work_dir, "charts")
        os.makedirs(self.out_dir, exist_ok=True)
        self.countries = [f"NATION_{i}" for i in range(25)]
        self.indicators = list(datagen.CUBE_INDICATORS)
        sem = []
        for _ in range(12):
            tpl = SEMANTIC_TEMPLATES[rng.integers(len(SEMANTIC_TEMPLATES))]
            sem.append(
                tpl.format(
                    geo=self.countries[rng.integers(25)],
                    ind=SEMANTIC_INDICATORS[rng.integers(len(SEMANTIC_INDICATORS))],
                )
            )
        self.questions = [(q, "intent") for q in INTENT_QUESTIONS] + [
            (q, "semantic") for q in sem
        ]
        self._deck: list[str] = []
        self.plans = PlanCalls()

    def sizes(self) -> dict:
        return {
            "sf": self.sf,
            "tables": datagen.table_rows(self.sf),
            "questions": len(self.questions),
            "deck": dict(self.DECK),
        }

    def _params(self, kind: str) -> dict:
        """Seeded parameters of one op; ``kind:variant`` fixes the variant."""
        rng = self.rng
        kind, _, variant = kind.partition(":")
        if kind == "top10":
            return {"query": variant}
        if kind == "series":
            return {"geo": self.countries[rng.integers(25)]}
        if kind == "forecast":
            return {
                "geo": self.countries[rng.integers(25)],
                "indicator": self.indicators[rng.integers(6)],
            }
        if kind == "chart":
            return {
                "chart": variant,
                "geo": self.countries[rng.integers(25)],
                "indicator": self.indicators[rng.integers(6)],
            }
        if kind == "chat":
            pool = [q for q, r in self.questions if r == variant]
            return {"question": pool[rng.integers(len(pool))], "route": variant}
        return {}

    def next_op(self) -> Op:
        if not self._deck:
            deck = [k for k, n in self.DECK for _ in range(n)]
            self._deck = [deck[i] for i in self.rng.permutation(len(deck))]
        kind = self._deck.pop()
        return Op(kind.split(":")[0], self._params(kind))

    def warm_ops(self) -> list[Op]:
        ops = [Op("top10", {"query": q}) for q in DASH_QUERIES[:2]]
        ops += [Op(k) for k in ("heatmap", "pivot", "domains")]
        ops.append(Op("series", {"geo": "NATION_0"}))
        ops.append(Op("forecast", {"geo": "NATION_0", "indicator": "GEP"}))
        for chart in ("trend", "top", "heatmap"):
            ops.append(Op("chart", {"chart": chart, "geo": "NATION_0", "indicator": "GEP"}))
        ops.append(Op("chat", {"question": INTENT_QUESTIONS[0], "route": "intent"}))
        ops.append(Op("chat", {"question": "household energy trend", "route": "semantic"}))
        return ops

    # one cold pass over the distinct ops, then the settle phase below
    warm_passes = 1

    def settle_ops(self) -> list[Op]:
        """The cached single-query ops, the band the p50 falls in. Their
        latency is bound by the per-job floor, which keeps falling for some
        hundreds of jobs after the cold pass while the JVM compiles the
        scheduling path (40 ms to 26 ms over ~300 ops in a probe on
        4 cores), so set-up repeats them until it stops falling."""
        return [Op("top10", {"query": q}) for q in DASH_QUERIES[:2]] + [Op("heatmap"), Op("pivot")]

    def setup_session(self, eng, spark, tracer) -> float:
        return build_views(eng, spark, self.sf_dir, tracer)

    def run_op(self, eng, spark, op: Op, tracer) -> Result:
        sc = spark.sparkContext
        sf = self.sf_dir
        k = op.kind
        if k in QUERY_KINDS:
            frames = []
            for name in _dash_queries(op):
                tracer.job_group(sc, "build")
                with tracer.span("plans.build", query=name):
                    df = self.plans.build(eng.queries, name, spark, sf)
                    if k == "series":
                        df = df.where(df["country_code"] == op.params["geo"])
                tracer.job_group(sc, "exec")
                with tracer.span("plans.exec", query=name):
                    frames.append(df.toPandas())  # what a dashboard renders
            return Result(op, frames, sum(len(f) for f in frames))
        if k == "forecast":
            tracer.job_group(sc, "ml")
            with tracer.span("ml.forecast"):
                fc = eng.forecast_all(spark, sf)
                rows = (
                    fc.where(
                        (fc["geo"] == op.params["geo"])
                        & (fc["indicator"] == op.params["indicator"])
                    )
                    .orderBy("year")
                    .collect()
                )
            return Result(op, rows, len(rows))
        if k == "chart":
            p = op.params
            tracer.job_group(sc, "viz")
            with tracer.span("viz.chart", chart=p["chart"]):
                if p["chart"] == "trend":
                    path = eng.charts.plot_country_trend(
                        spark, sf, self.out_dir, p["geo"], p["indicator"]
                    )
                elif p["chart"] == "top":
                    path = eng.charts.plot_top_countries(spark, sf, self.out_dir, p["indicator"])
                else:
                    path = eng.charts.plot_heatmap(spark, sf, self.out_dir, p["indicator"])
            return Result(op, path, 1)
        if k == "chat":
            tracer.job_group(sc, "rag")
            with tracer.span(f"rag.answer.{op.params['route']}"):
                ans = eng.answer_question(spark, sf, op.params["question"])
            return Result(op, ans, len(ans.get("rows", [])))
        raise ValueError(f"unknown dashboard op {k!r}")

    def corrupt(self, results: list[Result]) -> None:
        """Drop a row from the first non-empty query result."""
        for r in results:
            if r.op.kind in QUERY_KINDS and len(r.rows[0]):
                r.rows[0] = r.rows[0].iloc[1:]
                return

    def verify(self, eng, spark, results: list[Result], checks: verify.Checks) -> set[int]:
        """Checks every op's output; returns the indices of failed ops."""
        oracle = verify.Oracle(self.sf_dir)
        oracles = eng.oracle_sql()
        # oracle hash per distinct (query, filter) result, computed once
        want: dict[tuple, str] = {}
        failed = set()
        try:
            for i, r in enumerate(results):
                k = r.op.kind
                if k in QUERY_KINDS:
                    geo = r.op.params.get("geo") if k == "series" else None
                    for name, pdf in zip(_dash_queries(r.op), r.rows):
                        if (name, geo) not in want:
                            sql = oracles[name]
                            if geo is not None:
                                sql = f"SELECT * FROM ({sql}) WHERE country_code = '{geo}'"
                            want[name, geo] = verify.frame_hash(oracle.frame(sql))
                        if not checks.expect(
                            verify.frame_hash(pdf) == want[name, geo],
                            f"op {i} {name}[{geo}]: result differs from the oracle's",
                        ):
                            failed.add(i)
                elif k == "forecast":
                    rows = r.rows
                    fc = [x for x in rows if x["type"] == "forecast"]
                    hist = [x for x in rows if x["type"] == "historical"]
                    years = [x["year"] for x in hist + fc]
                    ok = (
                        len(hist) > 0
                        and years == sorted(years)
                        and len(fc) == (5 if len(hist) >= 5 else 0)
                    )
                    if not checks.expect(ok, f"op {i} forecast {r.op.params}: bad shape"):
                        failed.add(i)
                elif k == "chart":
                    if not checks.expect(
                        r.rows is not None and verify.is_png(r.rows),
                        f"op {i} chart {r.op.params}: no PNG written",
                    ):
                        failed.add(i)
                elif k == "chat":
                    ans = r.rows
                    ok = ans.get("mode") == r.op.params["route"] and bool(
                        str(ans.get("answer", "")).strip()
                    )
                    if not checks.expect(
                        ok, f"op {i} chat {r.op.params}: mode {ans.get('mode')!r}"
                    ):
                        failed.add(i)
        finally:
            oracle.close()
        return failed


# ---------------------------------------------------------------------------
# sweep
# ---------------------------------------------------------------------------


def stratified_sample(queries: dict, size: int) -> list[str]:
    """A sample of about ``size`` registered queries, stratified by
    ``plans`` submodule in proportion to its size (at least one each) and
    evenly spaced in name order within it. The sample does not depend on
    the seed, so every seed measures the same work; the seed orders it."""
    by_mod: dict[str, list[str]] = {}
    fn_names = {}
    for m in PLAN_MODULES:
        mod = importlib.import_module(f"eurostat_energy_etl_pipeline_spark.plans.{m}")
        for v in vars(mod).values():
            if callable(v) and getattr(v, "__module__", None) == mod.__name__:
                fn_names[v.__name__ + "_prepared"] = m
    for name in sorted(queries):
        mod = fn_names.get(getattr(queries[name], "__name__", ""), "other")
        by_mod.setdefault(mod, []).append(name)
    out = []
    for mod in sorted(by_mod):
        names = by_mod[mod]
        k = max(1, round(size * len(names) / len(queries)))
        step = len(names) / k
        out += [names[int(i * step)] for i in range(k)]
    return out


class Sweep:
    name = "sweep"
    sf = 0.01
    SAMPLE = 40  # more than the 32-entry plan cache holds

    def __init__(self, rng: np.random.Generator, sf_dir: str, work_dir: str, sf: float) -> None:
        self.rng = rng
        self.sf = sf
        self.sf_dir = sf_dir
        self.sample: list[str] = []
        self.order: list[str] = []
        self._i = 0
        self.plans = PlanCalls()

    def bind(self, eng) -> None:
        self.sample = stratified_sample(eng.queries, self.SAMPLE)
        self.order = [self.sample[i] for i in self.rng.permutation(len(self.sample))]

    min_decks = 1

    @property
    def deck_len(self) -> int:
        return len(self.sample)

    def sizes(self) -> dict:
        return {
            "sf": self.sf,
            "tables": datagen.table_rows(self.sf),
            "sample": len(self.sample),
            "strata": "plans submodules, proportional",
        }

    def next_op(self) -> Op:
        name = self.order[self._i % len(self.order)]
        self._i += 1
        return Op("query", {"query": name})

    def warm_ops(self) -> list[Op]:
        return [Op("query", {"query": n}) for n in self.order]

    # one pass over the whole sample warms every plan shape once; the
    # timed window repeats full passes
    warm_passes = 1

    def setup_session(self, eng, spark, tracer) -> float:
        return build_views(eng, spark, self.sf_dir, tracer)

    def run_op(self, eng, spark, op: Op, tracer) -> Result:
        sc = spark.sparkContext
        name = op.params["query"]
        tracer.job_group(sc, "build")
        with tracer.span("plans.build", query=name):
            df = self.plans.build(eng.queries, name, spark, self.sf_dir)
        tracer.job_group(sc, "exec")
        with tracer.span("plans.exec", query=name):
            df.write.format("noop").mode("overwrite").save()
        return Result(op)

    def verify(self, eng, spark, results: list[Result], checks: verify.Checks) -> set[int]:
        """Hash each sampled query's result once against its oracle; every
        op of a query that fails the check counts as failed."""
        oracle = verify.Oracle(self.sf_dir)
        oracles = eng.oracle_sql()
        bad = set()
        n_rows = {}
        try:
            for name in sorted(self.sample):
                pdf = eng.queries[name](spark, self.sf_dir).toPandas()
                if self.corrupted == name:
                    pdf = pdf.iloc[1:]
                n_rows[name] = len(pdf)
                if not verify.check_query(checks, oracle, name, pdf, oracles.get(name)):
                    bad.add(name)
        finally:
            oracle.close()
        # each op delivered its query's verified result rows
        for r in results:
            r.rows_out = n_rows[r.op.params["query"]]
        return {i for i, r in enumerate(results) if r.op.params["query"] in bad}

    corrupted = None

    def corrupt(self, results: list[Result]) -> None:
        """Drop a row from the first sampled query's checked result."""
        self.corrupted = results[0].op.params["query"]


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class Ingest:
    """Cubes over indicator x unit x geo x time, one block of geos each.

    Ops come in decks; each deck loads one fresh window of years, so every
    deck does the same work. Within a deck an ``append`` cube brings the
    next block of geos (keys new to the warehouse) and adds a file to every
    year partition; a ``merge`` cube revises a block that overlaps the
    latest geos by a seeded share and may extend past them; a compaction
    ends the deck, when every partition holds two files. The deck order is
    fixed so that on every seed the p50 falls between the two appends and
    the p90 near the merge; the seed draws the fill ratio, overlap and
    values. The generator tracks the
    expected warehouse contents, so every load can be checked."""

    name = "ingest"
    sf = 0.1  # 125 geos per cube: 48k cells; 480 cells per 0.001 of sf
    N_UNIT = 4
    N_YEARS = 16
    FIRST_YEAR = 1700  # parquet dates before 1582 need calendar rebasing
    DECK = ("append", "merge", "append", "compact")
    FILL = (0.85, 0.95)
    OVERLAP = (0.5, 1.0)

    def __init__(self, rng: np.random.Generator, sf_dir: str, work_dir: str, sf: float) -> None:
        self.rng = rng
        self.work_dir = work_dir
        self.geo_block = max(2, round(1250 * sf))
        self.units = list(datagen.CUBE_UNITS[: self.N_UNIT])
        self.inds = list(datagen.CUBE_INDICATORS)
        # cell order of a cube: (indicator, unit, geo, time), time fastest
        self.block_shape = (len(self.inds), len(self.units), self.geo_block, self.N_YEARS)
        self._deck: list[str] = []
        self._warehouses = 0
        self.reset(os.path.join(work_dir, "warehouse-0"))

    def reset(self, warehouse: str) -> None:
        """Start over on an empty warehouse directory."""
        self.warehouse = warehouse
        shutil.rmtree(warehouse, ignore_errors=True)
        # per window of years: expected value per (geo, indicator, unit,
        # year); NaN = absent
        self.windows: list[np.ndarray] = []
        self.last_readback = None

    def new_warehouse(self) -> None:
        self._warehouses += 1
        self.reset(os.path.join(self.work_dir, f"warehouse-{self._warehouses}"))

    def _new_window(self) -> None:
        shape = (0,) + self.block_shape[:2] + self.block_shape[3:]
        self.windows.append(np.full(shape, np.nan))

    def sizes(self) -> dict:
        return {
            "cube_cells": int(np.prod(self.block_shape)),
            "dims": dict(zip(("indicator", "unit", "geo", "time"), self.block_shape)),
            "fill": list(self.FILL),
            "merge_overlap": list(self.OVERLAP),
            "deck": list(self.DECK),
        }

    deck_len = len(DECK)
    min_decks = 1

    def next_op(self) -> Op:
        if not self._deck:
            self._deck = list(self.DECK)
            self._new_window()
        mode = self._deck.pop(0)
        if mode == "compact":
            return Op("compact")
        return self.load_op(mode)

    def load_op(self, mode: str) -> Op:
        rng = self.rng
        window = len(self.windows) - 1
        n_geo = len(self.windows[window])
        if mode == "append":
            start = n_geo
        else:
            start = max(0, n_geo - int(round(rng.uniform(*self.OVERLAP) * self.geo_block)))
        cells = int(np.prod(self.block_shape))
        filled = rng.random(cells) < rng.uniform(*self.FILL)
        values = np.round(rng.uniform(0.0, 10_000.0, cells), 3)
        geos = datagen.cube_geos(start + self.geo_block)[start:]
        y0 = self.FIRST_YEAR + window * self.N_YEARS
        payload = datagen.make_cube(
            self.inds, self.units, geos, list(range(y0, y0 + self.N_YEARS)), filled, values
        )
        return Op(
            mode,
            {"window": window, "start": start, "filled": filled, "values": values, "payload": payload},
        )

    def warm_ops(self):
        """One deck on a fresh warehouse, drawn as it runs, since a load's
        key range depends on the loads before it."""
        shutil.rmtree(self.warehouse, ignore_errors=True)
        self.new_warehouse()
        self._deck = []
        for _ in range(self.deck_len):
            yield self.next_op()

    # Two decks: in a probe on 4 cores the first deck of a fresh process
    # took 26 s, the second 10.5 s and the later ones 8.5-9.7 s.
    warm_passes = 2

    def setup_session(self, eng, spark, tracer) -> float:
        return 0.0

    def _apply(self, op: Op) -> int:
        """Fold a load into the expected state; returns the cells loaded."""
        w, start = op.params["window"], op.params["start"]
        end = start + self.geo_block
        state = self.windows[w]
        if end > len(state):
            grow = np.full((end - len(state),) + state.shape[1:], np.nan)
            state = self.windows[w] = np.concatenate([state, grow])
        filled = op.params["filled"].reshape(self.block_shape)
        values = op.params["values"].reshape(self.block_shape)
        block = np.moveaxis(np.where(filled, values, np.nan), 2, 0)
        state[start:end] = np.where(np.isnan(block), state[start:end], block)
        return int(filled.sum())

    def readback(self, eng, spark):
        from pyspark.sql import functions as F

        df = eng.read_warehouse(spark, self.warehouse)
        key = ["dataset_code", "country_code", "indicator_code", "unit_code", "time"]
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.sum(F.xxhash64(*key, "value").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["s"], row["h"])

    def run_op(self, eng, spark, op: Op, tracer) -> Result:
        sc = spark.sparkContext
        info: dict = {"kind": op.kind}
        if op.kind == "compact":
            tracer.job_group(sc, "compact")
            with tracer.span("etl.compact") as a:
                before_bytes = _dir_bytes(self.warehouse)
                stats = eng.compact_warehouse(spark, self.warehouse)
                a["mb_rewritten"] = before_bytes / 1e6 if stats["partitions_compacted"] else 0.0
            info["stats"] = stats
            info["before"] = self.last_readback
        else:
            payload = op.params["payload"]
            tracer.job_group(sc, "decode")
            with tracer.span("sources.decode") as a:
                df = eng.decode_jsonstat(spark, payload, "nrg_cb_e")
                a["cells"] = len(payload["value"])
            files0 = _count_files(self.warehouse)
            tracer.job_group(sc, "write")
            with tracer.span(f"etl.write.{op.kind}"):
                info["loaded"] = eng.run_etl(spark, [df], self.warehouse, op.kind)
            info["files_written"] = max(0, _count_files(self.warehouse) - files0)
            info["cells"] = self._apply(op)
        tracer.job_group(sc, "read")
        with tracer.span("etl.read"):
            rb = self.readback(eng, spark)
        self.last_readback = rb
        info["readback"] = rb
        info["expected_rows"] = sum(int(np.count_nonzero(~np.isnan(w))) for w in self.windows)
        info["expected_sum"] = float(sum(np.nansum(w) for w in self.windows))
        info["bytes"] = _dir_bytes(self.warehouse)
        return Result(op, info, info.get("cells", 0))

    def corrupt(self, results: list[Result]) -> None:
        """Report one row too many on the first load's read-back."""
        n, s, h = results[0].rows["readback"]
        results[0].rows["readback"] = (n + 1, s, h)

    def verify(self, eng, spark, results: list[Result], checks: verify.Checks) -> set[int]:
        """After every load the warehouse holds exactly the expected keys
        and values; compaction keeps the row count and checksum."""
        failed = set()
        for i, r in enumerate(results):
            info = r.rows
            if info is None:  # the op raised; counted by the caller
                continue
            n, s, h = info["readback"]
            ok = n == info["expected_rows"] and math.isclose(
                float(s or 0.0), info["expected_sum"], rel_tol=1e-9, abs_tol=1e-6
            )
            if not checks.expect(
                ok,
                f"op {i} {info['kind']}: warehouse has {n} rows / sum {s}, "
                f"expected {info['expected_rows']} / {info['expected_sum']}",
            ):
                failed.add(i)
            if info["kind"] == "compact":
                before = info["before"]
                if before is not None and not checks.expect(
                    before[0] == n and before[2] == h,
                    f"op {i} compact changed the warehouse: {before} -> {(n, s, h)}",
                ):
                    failed.add(i)
            elif not checks.expect(
                info["loaded"] == info["cells"],
                f"op {i} {info['kind']}: run_etl loaded {info['loaded']}, cube had {info['cells']}",
            ):
                failed.add(i)
        return failed


def _walk_files(path: str):
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                yield os.path.join(dirpath, f)


def _count_files(path: str) -> int:
    return sum(1 for _ in _walk_files(path))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in _walk_files(path))


WORKLOADS = {w.name: w for w in (Dashboard, Sweep, Ingest)}
