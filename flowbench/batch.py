"""The ``batch_mix`` workload: one client runs a mix of ``queries()``
entries to the noop sink, pass after pass, in a seed-permuted order.

The mix has two halves that stress different layers:

- iterative (q111, q175): the time goes into *building* the
  DataFrame, which runs blocking jobs (eager checkpoints, convergence
  counts);
- similarity (q121, q124, q146): the time goes into *executing* the plan
  (shuffle-heavy candidate generation, then exact verification).

Each entry is checked once per run, outside the timed passes, against its
``oracle_sql()`` twin on DuckDB with the hash helpers of
``tools/check_oracle.py``.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import spans
import tables

ITERATIVE = ("q111_dedup_clusters", "q175_kcore")
SIMILARITY = ("q121_semdedup", "q124_fingerprint_overlap",
              "q146_fuzzy_match")
MIX = ITERATIVE + SIMILARITY
MIN_PASSES = 2


def _short(key: str) -> str:
    return key.split("_", 1)[0]


class BatchWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sf = os.path.join(ctx.work, "sf")
        self.results: dict[str, tuple[list, list]] = {}
        import __spark_entry__ as ent

        self.queries = {k: ent.queries()[k] for k in MIX}
        self.oracle = ent.oracle_sql()

    def prepare(self) -> None:
        tables.write_tables(self.sf, self.ctx.seed)

    def warm_up(self, spark) -> None:
        """One pass that collects every result for the oracle check; it
        also pays the session's cold costs (code generation, Python
        workers) before the timed passes."""
        for key, fn in self.queries.items():
            pdf = fn(spark, self.sf).toPandas()
            self.results[key] = (list(pdf.columns),
                                 list(pdf.itertuples(index=False, name=None)))

    def run_pass(self, spark, n: int, traced: bool) -> tuple[float, dict]:
        """One pass in the seed's order for pass ``n``.  Returns its wall
        time and, when traced, each entry's layer numbers."""
        order = list(MIX)
        random.Random(self.ctx.seed * 1000 + n).shuffle(order)
        sc = spark.sparkContext
        tr = self.ctx.tracer if traced else spans.Tracer(False)
        per = {}
        t_pass = time.time()
        with tr.span("pass", n=n):
            for key in order:
                short = _short(key)
                layers = {}
                if traced:
                    sc.setJobGroup(f"{short}.build.{n}", key)
                t0 = time.time()
                with tr.span("build", query=short):
                    df = self.queries[key](spark, self.sf)
                t1 = time.time()
                if traced:
                    sc.setJobGroup(f"{short}.exec.{n}", key)
                with tr.span("exec", query=short):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    build = spans.group_counters(spark, f"{short}.build.{n}")
                    run = spans.group_counters(spark, f"{short}.exec.{n}")
                    layers = {
                        "build_s": t1 - t0, "exec_s": t2 - t1,
                        "build_jobs": build["jobs"], "exec_jobs": run["jobs"],
                        "stages": build["stages"] + run["stages"],
                        "shuffle_bytes": build["shuffle_bytes"]
                        + run["shuffle_bytes"],
                        "executor_cpu_s": build["executor_cpu_s"]
                        + run["executor_cpu_s"],
                        "plan_ms": spans.planning_ms(df),
                    }
                per[key] = layers
                # an entry that persists a shared sub-plan must not serve
                # the next pass from the cache
                spark.catalog.clearCache()
        return time.time() - t_pass, per

    def check(self) -> None:
        """Hash each collected result against its DuckDB twin."""
        import duckdb
        from check_oracle import hash_rows

        con = duckdb.connect()
        for name in tables.TABLES:
            path = os.path.join(self.sf, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        for key in MIX:
            cols, rows = self.results[key]
            twin = con.execute(self.oracle[key]).df()
            dcols = list(twin.columns)
            drows = list(twin.itertuples(index=False, name=None))
            problems = [] if rows else ["empty result"]
            if sorted(cols) != sorted(dcols) or len(rows) != len(drows):
                problems.append(f"shape: spark {len(rows)}x{sorted(cols)}, "
                                f"oracle {len(drows)}x{sorted(dcols)}")
            elif hash_rows(cols, rows) != hash_rows(dcols, drows):
                problems.append("value hash differs from the oracle twin")
            self.ctx.attempt(key, problems)
        con.close()


def summarize(per_pass: list[dict]) -> dict[str, float]:
    """Per-entry medians of the traced passes' layer numbers, and sums
    over the mix.  Counts come from the last pass (they repeat exactly)."""
    out: dict[str, float] = {}
    for key in MIX:
        rows = [p[key] for p in per_pass]
        short = _short(key)
        for field in ("build_s", "exec_s", "executor_cpu_s", "plan_ms"):
            out[f"queries.{short}.{field}"] = statistics.median(
                [r[field] for r in rows])
        for field in ("build_jobs", "exec_jobs", "stages", "shuffle_bytes"):
            out[f"queries.{short}.{field}"] = float(rows[-1][field])
    for field in ("build_s", "exec_s", "build_jobs", "exec_jobs"):
        out[f"queries.{field}"] = sum(out[f"queries.{_short(k)}.{field}"]
                                      for k in MIX)
    for half, keys in (("iterative", ITERATIVE), ("similarity", SIMILARITY)):
        out[f"batch.{half}_s"] = sum(
            out[f"queries.{_short(k)}.build_s"] + out[f"queries.{_short(k)}.exec_s"]
            for k in keys)
    return out
