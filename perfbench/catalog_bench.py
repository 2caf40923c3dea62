"""The catalog workload: a fixed list of oracle-paired catalog entries,
each run from its builder to ``toPandas()`` in a fixed order.

``CATALOG_SQL`` holds entries whose optimized plans have no Python
evaluation node; ``CATALOG_PYTHON`` holds entries whose plans do
(``mapInPandas``/pandas UDFs over the Arrow boundary). One pass runs
the first list, then the second, and the per-layer figures time each
list on its own. The lists are frozen: an entry that later loses its
Python node stays where it is.
"""

from __future__ import annotations

import os
import time

import duckdb

import checks
import inputs
from tracer import mean

CATALOG_SF = 0.01

CATALOG_SQL = [
    "window_distribution_suite",
    "dedup_simhash_portable",
]

CATALOG_PYTHON = [
    "multimodal_audio_headers",
    "pandas_udf_token_count",
]


def instrument(tracer) -> None:
    """Time every ``DataFrame.toPandas`` call, the catalog's result edge."""
    from pyspark.sql.classic.dataframe import DataFrame

    tracer.wrap(DataFrame, "toPandas", "catalog.collect")


class Catalog:
    entries = CATALOG_SQL + CATALOG_PYTHON
    instrument = staticmethod(instrument)
    #: Passes run in the warm-up. The first is cold (about four warm
    #: passes' time); the next five fall by a fifth as the JIT compiles
    #: the hot paths, then pass times fall by a few percent a minute.
    warm_passes = 6
    #: Untraced passes the window always measures, however slow the host.
    min_passes = 4

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "tables")
        self.passes: list[dict] = []   # measured passes: seconds, jobs, traced
        self.attempted = 0
        self.failures: list[str] = []
        self.pool_touch: list[float] = []
        self.oracle_s = 0.0

    def setup(self) -> None:
        from ai_duckdb_spark.queries import catalog

        self.specs = [catalog.REGISTRY[name] for name in self.entries]
        con = duckdb.connect()
        try:
            tables = inputs.make_tables(CATALOG_SF)
            for name, path in inputs.write_tables(self.sf_dir, tables).items():
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            self.oracle = {}
            t0 = time.perf_counter()
            for spec in self.specs:
                self.oracle[spec.name] = checks.frame_rows(con.sql(spec.oracle).fetchdf())
            self.oracle_s = time.perf_counter() - t0
        finally:
            con.close()

    def warmup(self) -> None:
        for _ in range(self.warm_passes):
            self.run_pass(traced=False)

    def touch_pool(self) -> None:
        """One no-op ``mapInPandas`` over every core, so an idle-discarded
        Python worker pool is re-forked outside the timed pass."""
        spark, n = self.ctx.spark, self.ctx.cores
        t0 = time.perf_counter()
        spark.range(0, n, 1, n).mapInPandas(lambda it: it, schema="id long").count()
        self.pool_touch.append(time.perf_counter() - t0)

    def run_pass(self, traced: bool) -> dict:
        spark, tracer, jobs = self.ctx.spark, self.ctx.tracer, self.ctx.jobs
        results = {}
        per_entry = {}
        tracer.enabled = traced
        j0 = jobs()
        t0 = time.perf_counter()
        for spec in self.specs:
            tracer.request = spec.name
            e0 = time.perf_counter()
            idx = tracer.begin("catalog.entry") if traced else None
            try:
                df = tracer.call("catalog.build", spec.builder, spark, self.sf_dir)
                results[spec.name] = df.toPandas()
            except Exception as exc:  # noqa: BLE001 — an entry that errors is a failure
                results[spec.name] = exc
            finally:
                if idx is not None:
                    tracer.end(idx)
            per_entry[spec.name] = time.perf_counter() - e0
        seconds = time.perf_counter() - t0
        tracer.enabled = False
        p = {"seconds": seconds, "jobs": jobs() - j0, "traced": traced, "entries": per_entry}
        for name, pdf in results.items():  # outside the timed region
            self.attempted += 1
            if isinstance(pdf, Exception):
                reason = f"{type(pdf).__name__}: {str(pdf)[:200]}"
            else:
                reason = checks.frames_match(pdf, self.oracle[name])
            if reason:
                self.failures.append(f"{name}: {reason}")
        return p

    def measure(self, seconds: float, paired: bool) -> None:
        """Timed passes, each after a pool touch: at least ``min_passes``
        (four when traced, in the order untraced, traced, traced,
        untraced), then more while ``seconds`` have not passed."""
        t_end = time.perf_counter() + seconds
        order = (False, True, True, False) if paired else (False,)
        least = len(order) if paired else self.min_passes
        while True:
            self.touch_pool()
            self.passes.append(self.run_pass(traced=order[len(self.passes) % len(order)]))
            if (len(self.passes) >= least and time.perf_counter() >= t_end
                    and len(self.passes) % len(order) == 0):
                break

    def samples(self) -> list[float]:
        """One figure per untraced pass: its wall time."""
        return [p["seconds"] for p in self.passes if not p["traced"]]

    def trend(self) -> list[float]:
        """The untraced passes' wall times, in the order they ran."""
        return self.samples()

    def outcome(self):
        """(failures, attempted, (seconds, traced) pairs, jobs per pass)."""
        return (self.failures, self.attempted, [(p["seconds"], p["traced"]) for p in self.passes],
                {"jobs.pass": [p["jobs"] for p in self.passes]})

    def layers(self, tracer) -> dict[str, float]:
        """Per-layer figures of a traced run, per traced pass."""
        traced = [p for p in self.passes if p["traced"]]
        roots = tracer.roots("catalog.entry")
        n = max(1, len(traced))
        sums = tracer.self_sums(roots)

        def entry_s(names):
            return mean(sum(p["entries"][name] for name in names) for p in traced)

        return {
            "catalog.build_s": sums.get("catalog.build", 0.0) / n,
            "catalog.build_jobs": sum(s.self_jobs for s in tracer.select(roots, "catalog.build")) / n,
            "catalog.collect_s": sums.get("catalog.collect", 0.0) / n,
            "catalog.jobs": mean(p["jobs"] for p in traced),
            "catalog.multimodal_s": entry_s([e for e in self.entries if e.startswith("multimodal_")]),
            "catalog.sql_s": entry_s(CATALOG_SQL),
            "catalog.python_s": entry_s(CATALOG_PYTHON),
            "daemon_warm.pool_touch_s": mean(self.pool_touch),
            "oracle.duckdb_s": self.oracle_s,
        }
