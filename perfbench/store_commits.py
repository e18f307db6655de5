"""``store_commits``: the versioned store's commit verbs in the timed
region, each followed by one read.

Setup seeds a store from a generated 15k-row ``orders`` table (key
``o_orderkey``; the size of sf0.01 ``orders``). The timed region runs
write verbs from a deck of 10 in a fixed order: append 4, merge 3,
update 1, merge-on-read delete 1, copy-on-write delete 1, and a
deletion-vector purge after every MoR delete. The seed sets the data:
the base table, the batches (1% of the base, half of each merge batch
existing keys) and the keys each update and delete hits. Each write is followed by one read, cycling through the latest
snapshot, the snapshot five versions back and the change feed of the
last commit. Every read returns a content certificate — row count and
a sum of per-row hashes written in SQL that DuckDB evaluates
identically — and ``verify`` replays the same op sequence in DuckDB
and compares each read with it.

Before the timed region, setup warms the engine up on the seeded
store itself: one read of the seed snapshot, then the first half of
the deck, which holds every verb once, each with its read; untimed but
checked like every other op. The JVM's first use of each commit and
read path at the store's own size is then paid in ``setup_s``, and the
timed region goes on from the middle of the deck.

One client on purpose: commit races (CAS retries) would make the
timing unsteady, and the OCC tests already cover them.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

import datagen
from harness import dir_stats

BASE_ROWS = 15_000
# One deck of write verbs, in a fixed order: with a seeded order, which
# commit each change-feed read lands on (and so its cost) varied from
# seed to seed by more than the benchmark's bounds. Its first WARMUP
# verbs, each verb once, are the warm-up.
DECK = ("append", "merge", "update", "delete_mor", "delete",
        "append", "merge", "append", "merge", "append")
WARMUP = 5
READS = ("latest", "time_travel", "diff")
# op name -> count per deck (a purge follows each MoR delete, a read
# each dealt write)
MIX = {**{v: DECK.count(v) for v in DECK},
       "purge": DECK.count("delete_mor"),
       **{r: len(DECK) / len(READS) for r in READS}}
KEY = "o_orderkey"
STATS = (KEY,)
_P = 4294967291      # largest prime below 2**32

# A per-row hash both engines evaluate to the same BIGINT; every
# intermediate stays below 2**63. {day} is the engine's days-since-epoch.
_ROW_HASH = (
    "(((((o_orderkey * 2654435761 + o_custkey) % {p}) * 40503"
    " + CAST(ROUND(o_totalprice * 100) AS BIGINT)) % {p}) * 40503"
    " + {day} * 7 + ascii(o_orderstatus) * 3 + ascii(o_orderpriority))"
    " % {p}")
SPARK_HASH = _ROW_HASH.format(
    p=_P, day="unix_date(CAST(o_orderdate AS DATE))")
DUCK_HASH = _ROW_HASH.format(
    p=_P, day="(CAST(o_orderdate AS DATE) - DATE '1970-01-01')")


def _vs():
    from etl_pipeline_stock_market_data_postgresql_spark.sources import (
        versioned_store)
    return versioned_store


def _fingerprints(*dfs) -> list[tuple[int, int]]:
    """(row count, hash sum) of each DataFrame, in one Spark action."""
    from functools import reduce
    from pyspark.sql import functions as F
    tagged = reduce(lambda a, b: a.unionByName(b),
                    (df.withColumn("_side", F.lit(i))
                     for i, df in enumerate(dfs)))
    got = {r["_side"]: (int(r["n"]), int(r["h"])) for r in
           tagged.groupBy("_side").agg(
               F.count(F.lit(1)).alias("n"),
               F.sum(F.expr(SPARK_HASH)).alias("h")).collect()}
    return [got.get(i, (0, 0)) for i in range(len(dfs))]


def _seed(ctx) -> dict:
    """A fresh store seeded with ``BASE_ROWS`` generated orders;
    returns its state (op log and the model of its live keys)."""
    from etl_pipeline_stock_market_data_postgresql_spark.sources.tables import (
        load)

    rows = BASE_ROWS
    data_dir = ctx.dir("main", "input")
    base = datagen.orders(np.random.default_rng([ctx.seed, 3]),
                          np.arange(rows, dtype="int64"))
    pq.write_table(base, os.path.join(data_dir, "orders.parquet"))
    root = ctx.dir("main", "store")
    df = load(ctx.spark, data_dir, "orders").repartitionByRange(4, KEY)
    v0 = _vs().commit_append(ctx.spark, root, df, stats_cols=STATS)
    return dict(root=root, data_dir=data_dir, v0=v0, latest=v0,
                base_rows=rows, batch=rows // 100, live=set(range(rows)),
                next_key=rows, rng=np.random.default_rng([ctx.seed, 3, 5]),
                log=[], n_reads=0, n_writes=0, base_bytes=dir_stats(root)[1])


def setup(ctx) -> None:
    """Seed the store the timed region works on, then warm the engine
    up on it: a read of the seed snapshot and the deck's first verbs."""
    st = ctx.state["main"] = _seed(ctx)
    t0 = time.perf_counter()
    _read(ctx, st)
    for _ in range(WARMUP):
        cycle(ctx)
    ctx.state["warmup_s"] = time.perf_counter() - t0
    for e in st["log"]:
        e["warmup"] = True


def _write(ctx, st: dict, verb: str) -> None:
    """Prepare one write verb (untimed), then run it as a timed op."""
    from pyspark.sql import functions as F

    vs, spark = _vs(), ctx.spark
    root, rng, batch_rows = st["root"], st["rng"], st["batch"]
    entry = {"verb": verb}
    if verb in ("append", "merge"):
        n_old = 0 if verb == "append" else batch_rows // 2
        old = (rng.choice(np.fromiter(st["live"], dtype="int64"), n_old,
                          replace=False) if n_old else
               np.empty(0, dtype="int64"))
        new = np.arange(st["next_key"], st["next_key"] + batch_rows - n_old)
        st["next_key"] += len(new)
        st["live"].update(new.tolist())
        batch = datagen.orders(rng, np.concatenate([old, new]))
        entry["batch"] = batch
        df = spark.createDataFrame(batch.to_pandas())
        if verb == "append":
            def fn():
                return vs.commit_append(spark, root, df, stats_cols=STATS)
        else:
            def fn():
                return vs.commit_merge(spark, root, df, (KEY,),
                                       stats_cols=STATS)[0]
    elif verb == "purge":
        def fn():
            return vs.purge_deletion_vectors(spark, root,
                                             stats_cols=STATS)[0]
    else:
        residue = entry["residue"] = int(rng.integers(0, 97))
        cond = F.col(KEY) % 97 == residue
        if verb == "update":
            def fn():
                return vs.commit_update(
                    spark, root, cond, {"o_totalprice": "o_totalprice + 1.0"},
                    stats_cols=STATS)[0]
        else:
            st["live"] = {k for k in st["live"] if k % 97 != residue}
            if verb == "delete":
                def fn():
                    return vs.commit_delete(spark, root, cond,
                                            stats_cols=STATS)[0]
            else:
                def fn():
                    return vs.commit_delete_mor(spark, root, cond)[0]
    before = dir_stats(root)[1] if ctx.trace else 0
    version, op = ctx.timed("write", verb, fn)
    entry.update(version=version, op=op,
                 bytes=(dir_stats(root)[1] - before) if ctx.trace else 0)
    if version is not None:
        st["latest"] = version
    st["log"].append(entry)
    if verb == "delete_mor":
        _write(ctx, st, "purge")


def cycle(ctx) -> None:
    """The next write verb of the deck, then one read."""
    st = ctx.state["main"]
    _write(ctx, st, DECK[st["n_writes"] % len(DECK)])
    st["n_writes"] += 1
    _read(ctx, st)


def _read(ctx, st: dict) -> None:
    vs, spark = _vs(), ctx.spark
    kind = READS[st["n_reads"] % len(READS)]
    st["n_reads"] += 1
    root, v = st["root"], st["latest"]
    target = max(st["v0"], v - 5) if kind == "time_travel" else v
    if kind == "diff":
        def fn():
            if v == st["v0"]:
                return (0, 0), (0, 0)
            return tuple(_fingerprints(*vs.version_diff(spark, root,
                                                        v - 1, v)))
    else:
        def fn():
            return _fingerprints(vs.read_version(spark, root, target))[0]
    result, op = ctx.timed("read", kind, fn)
    st["log"].append({"verb": kind, "version": target, "result": result,
                      "op": op})


def _duck_fp(conn, rel: str) -> tuple[int, int]:
    n, h = conn.execute(
        f"SELECT count(*), coalesce(sum({DUCK_HASH}), 0) FROM {rel}"
    ).fetchone()
    return int(n), int(h)


def _replay(ctx, st: dict):
    """Replay one store's op log in DuckDB; every read must match.
    Returns (rows, seconds, bytes) per timed write, the live row count
    and the last version."""
    conn = duckdb.connect()
    conn.execute("CREATE TABLE t AS SELECT * FROM read_parquet("
                 f"'{os.path.join(st['data_dir'], 'orders.parquet')}')")
    snap = {st["v0"]: _duck_fp(conn, "t")}
    diffs = {st["v0"]: ((0, 0), (0, 0))}
    current = st["v0"]
    rows_written = []
    for e in st["log"]:
        verb, op = e["verb"], e["op"]
        if verb in READS:
            if e["result"] is None:
                continue  # the failed read is already counted
            want = diffs.get(e["version"]) if verb == "diff" else \
                snap.get(e["version"])
            ctx.check(f"{verb}@v{e['version']}", e["result"] == want,
                      f"store read {verb} at v{e['version']}: "
                      f"{e['result']} != DuckDB replay {want}", op)
            continue
        if not op.ok:
            continue
        conn.execute("CREATE OR REPLACE TABLE prev AS SELECT * FROM t")
        if verb in ("append", "merge"):
            conn.register("b", e["batch"])
            if verb == "merge":
                conn.execute("DELETE FROM t WHERE o_orderkey IN "
                             "(SELECT o_orderkey FROM b)")
            conn.execute("INSERT INTO t SELECT * FROM b")
            conn.unregister("b")
            n = e["batch"].num_rows
        elif verb == "purge":
            n = 0
        else:
            where = f"o_orderkey % 97 = {e['residue']}"
            n = conn.execute(f"SELECT count(*) FROM t WHERE {where}"
                             ).fetchone()[0]
            if verb == "update":
                conn.execute("UPDATE t SET o_totalprice = o_totalprice + 1.0"
                             f" WHERE {where}")
            else:
                conn.execute(f"DELETE FROM t WHERE {where}")
        if not e.get("warmup"):
            rows_written.append((n, op.seconds, e["bytes"]))
        if e["version"] == current:
            ctx.check(f"{verb}@v{current}", n == 0,
                      f"{verb} changed {n} rows but published no version", op)
            continue
        current = e["version"]
        snap[current] = _duck_fp(conn, "t")
        diffs[current] = (_duck_fp(conn, "(SELECT * FROM t EXCEPT ALL "
                                   "SELECT * FROM prev)"),
                          _duck_fp(conn, "(SELECT * FROM prev EXCEPT ALL "
                                   "SELECT * FROM t)"))
    live_rows = conn.execute("SELECT count(*) FROM t").fetchone()[0]
    conn.close()
    return rows_written, live_rows, current


def verify(ctx) -> dict:
    """Check every read against DuckDB; returns the store's per-layer
    numbers, from the timed ops."""
    st = ctx.state["main"]
    rows_written, live_rows, current = _replay(ctx, st)
    bytes_per_row = st["base_bytes"] / st["base_rows"]
    rows = sum(n for n, _, _ in rows_written)
    secs = sum(s for _, s, _ in rows_written)
    man_bytes = dir_stats(os.path.join(st["root"], "manifests"))[1]
    disk = dir_stats(st["root"])[1]
    out = {"session.warmup_s": ctx.state["warmup_s"],
           "write.rows": float(rows),
           "write.rows_per_s": rows / secs if secs else 0.0,
           "store.versions": float(current + 1),
           "store.metadata_bytes": float(man_bytes),
           "store.space_amp": disk / (live_rows * bytes_per_row)}
    if ctx.trace and rows:
        out["store.write_amp"] = (sum(b for _, _, b in rows_written)
                                  / (rows * bytes_per_row))
    by_verb: dict[str, list[float]] = {}
    for e in st["log"]:
        if e["op"].ok and not e.get("warmup"):
            by_verb.setdefault(e["verb"], []).append(e["op"].seconds)
    for verb, secs_v in by_verb.items():
        key = "snapshot_read" if verb == "latest" else verb
        out[f"store.{key}_s"] = statistics.median(secs_v)
    return out
