"""``query_suite``: a fixed cross-section of the query registry, each
query once per pass in a seeded order; each op builds the query's
DataFrame and collects its rows, as a client issuing the query would.

Every timed collect carries an ``Observation`` of the result's content
fingerprint (row count, ``sum(xxhash64(row))`` —
``sources.compaction.content_fingerprint_exprs``, the q118 pattern),
which the result file records per query so ``compare.py`` can flag a
query whose fingerprint differs between two runs of the same code and
seed. After the timed pass the collected rows are compared with the
query's DuckDB oracle on the same generated inputs.

The suite is one query from each of six workload modules, a streaming
one and a store-backed one among them, because a whole run must fit in
under a minute. ``relational`` (its graph family, the legacy bench's
top decile, costs a third of a pass with its fixture), ``similarity``,
``text_dedup``, ``stock_domain``, ``scalar_functions``,
``subqueries_windows``, ``finance_analytics`` and ``training_ops`` are
left out. The fixtures the suite reads are built in setup, cold, in the
run's own scratch directory, through the registry's own builders.
Setup ends with one untimed pass over the suite (its results checked
like every other pass) as the engine warm-up, so the JVM's first use of
each query's code paths lands in ``setup_s`` and the timed passes are
the steady state. ``bench.py``'s generic warm-up is not used: it costs
about 25 s on a 4-core box, more than the timed region, and still
leaves each query's own first-use cost to its first run.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np

import datagen

SF = 0.01

# (query, fixture builders it reads) — registry names
SUITE: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("q01_topk_latest", ()),                      # reference_parity
    ("q22_sessionization", ()),                   # events_analytics
    ("q30_langid", ()),                           # textstats
    ("q46_streaming_tumbling", ()),               # streaming_exec
    ("q91_cdc_apply", ()),                        # pipeline_ops
    ("q148_versioned_schema_evolution", ("q148_store",)),  # storage
)
MIX = {name: 1 for name, _ in SUITE}


def _registry():
    from etl_pipeline_stock_market_data_postgresql_spark.workload import (
        all_queries)
    return all_queries()


def module_of(name: str) -> str:
    """The workload module (query family) a registry query lives in."""
    return _registry()[name].spark_fn.__module__.rsplit(".", 1)[-1]


def setup(ctx) -> None:
    """Generate the inputs, build the suite's fixtures cold, then run
    the warm-up pass."""
    from etl_pipeline_stock_market_data_postgresql_spark.workload.fixtures import (
        fixture_builders)

    import bench

    sf_dir = ctx.dir("sf0.01")
    datagen.write_star_schema(ctx.seed, SF, sf_dir)
    builders = fixture_builders()
    before = bench._scratch_marker_snapshot(sf_dir)
    t0 = time.perf_counter()
    for _name, fixtures in SUITE:
        for fx in fixtures:
            builders[fx](ctx.spark, sf_dir)
    ctx.spark.catalog.clearCache()
    built = sum(1 for p, m in bench._scratch_marker_snapshot(sf_dir).items()
                if before.get(p) != m)
    ctx.state.update(sf_dir=sf_dir, fixtures_s=time.perf_counter() - t0,
                     fixtures_built=built, passes=0)
    t0 = time.perf_counter()
    for _ in SUITE:  # engine warm-up: one whole pass
        cycle(ctx)
    ctx.state["warmup_s"] = time.perf_counter() - t0


def cycle(ctx) -> None:
    """The next query of the current pass; each pass runs the suite
    once, in an order drawn from the seed. One query per call lets the
    timed region end within one query of ``--seconds``."""
    from pyspark.sql import Observation
    from etl_pipeline_stock_market_data_postgresql_spark.sources.compaction import (
        content_fingerprint_exprs)

    order = ctx.state.setdefault("order", [])
    if not order:
        rng = np.random.default_rng([ctx.seed, 17, ctx.state["passes"]])
        ctx.state["passes"] += 1
        order.extend(int(i) for i in rng.permutation(len(SUITE)))
    name = SUITE[order.pop(0)][0]
    q = _registry()[name]
    obs = Observation(f"fp{len(ctx.ops)}")

    def run(label=f"op{len(ctx.ops)}:{name}"):
        ctx.job_group(label + ":build")
        df = q.spark_fn(ctx.spark, ctx.state["sf_dir"])
        build_end = time.time()
        ctx.job_group(label + ":write")
        rows = df.observe(obs, *content_fingerprint_exprs(df.columns)) \
            .collect()
        return build_end, df.columns, rows

    res, op = ctx.timed("read", name, run)
    if op.ok:
        build_end, cols, rows = res
        op.phases = {"build": (op.t0, build_end),
                     "write": (build_end, op.t1)}
        r = obs.get
        ctx.state.setdefault("results", {}).setdefault(name, []).append(
            (op, (int(r["n"]), int(r["h"])), cols, rows))
    ctx.spark.catalog.clearCache()


def _normalize(cols, rows):
    """Order-insensitive row form: columns by name, floats to 9
    significant digits (the oracle-parity tests' rule)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.9g}"
        return str(v)
    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def verify(ctx) -> dict:
    """Each collected result must equal its DuckDB oracle."""
    import duckdb

    queries = _registry()
    sf_dir = ctx.state["sf_dir"]
    conn = duckdb.connect()
    for t in datagen.TABLES:
        conn.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"'{os.path.join(sf_dir, t + '.parquet')}'")
    fingerprints = {}
    for name, runs in ctx.state.get("results", {}).items():
        res = conn.execute(queries[name].oracle)
        want = _normalize([d[0] for d in res.description], res.fetchall())
        for op, fp, cols, rows in runs:
            ctx.check(name, _normalize(cols, rows) == want,
                      f"{name}: result differs from its DuckDB oracle "
                      f"({len(rows)} vs {len(want)} rows)", op)
            if fingerprints.setdefault(name, fp) != fp:
                ctx.check(name, False, f"{name}: fingerprint differs "
                          f"between passes: {fingerprints[name]} vs {fp}", op)
    conn.close()
    ctx.extra["fingerprints"] = {k: list(v) for k, v in fingerprints.items()}
    return {"session.warmup_s": ctx.state["warmup_s"],
            "fixtures.build_s": ctx.state["fixtures_s"],
            "fixtures.built": float(ctx.state["fixtures_built"])}


def per_kind_layers(ops, medians) -> dict:
    """Per workload module, its queries' median latencies summed (its
    share of ``cycle_s``); ``plan.build_s``, the median time inside
    ``spark_fn`` summed over the suite."""
    out: dict[str, float] = {}
    for name, secs in medians.items():
        key = f"family.{module_of(name)}_s"
        out[key] = out.get(key, 0.0) + secs
    builds: dict[str, list[float]] = {}
    for op in ops:
        if op.ok:
            b0, b1 = op.phases["build"]
            builds.setdefault(op.name, []).append(b1 - b0)
    out["plan.build_s"] = sum(statistics.median(v) for v in builds.values())
    return out
