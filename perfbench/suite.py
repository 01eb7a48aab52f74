"""The query-suite workload: every query of ``queries.build_queries()`` at
sf0.01 sizes (500 documents, 500 embeddings, 10,000 events), each written
to a ``noop`` sink so every column is computed, then checked against its
``build_oracles()`` DuckDB SQL over the same parquet files.

The tables are generated from the seed in the shape the queries read:
``documents(doc_id, text, lang, source, n_chars)``,
``embeddings(vec_id, embedding float[64], label)`` and
``events(event_id, ts, user_id, event_type, value, props)``. A share of
documents are exact or one-word-edited copies of others, so the dedup
queries have duplicates to find.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from .env import WORK

N_DOCS, N_EMB, N_EVENTS, DIM = 500, 500, 10_000, 64
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream filter group vector"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
EVENT_TYPES = ("view", "click", "signup", "error", "purchase")


def _documents(rng: random.Random) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if texts and r < 0.05:  # exact copy
            text = rng.choice(texts)
        elif texts and r < 0.10:  # near copy: one word replaced
            words = rng.choice(texts).split(" ")
            words[rng.randrange(len(words))] = rng.choice(WORDS)
            text = " ".join(words)
        else:
            limit = rng.randint(48, 553)
            words: list[str] = []
            while sum(len(w) + 1 for w in words) < limit:
                words.append(rng.choice(WORDS))
            text = " ".join(words)[:limit].rstrip()
        texts.append(text)
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: random.Random) -> pa.Table:
    centers = [[rng.gauss(0, 0.15) for _ in range(DIM)] for _ in range(10)]
    labels, vecs = [], []
    for _ in range(N_EMB):
        label = rng.randrange(10)
        labels.append(label)
        vecs.append([c + rng.gauss(0, 0.08) for c in centers[label]])
    return pa.table({
        "vec_id": pa.array(range(N_EMB), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _events(rng: random.Random) -> pa.Table:
    t = dt.datetime(2024, 1, 1)
    ts, users, kinds, values, props = [], [], [], [], []
    for _ in range(N_EVENTS):
        t += dt.timedelta(microseconds=int(rng.expovariate(1 / 259e6)))
        ts.append(t)
        users.append(rng.randrange(150))
        kinds.append(rng.choice(EVENT_TYPES))
        values.append(round(max(0.01, rng.lognormvariate(3.5, 1.0)), 2))
        props.append(f'{{"k": {rng.randrange(100)}}}')
    return pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": kinds,
        "value": values,
        "props": props,
    })


def stage(seed: int) -> str:
    """Write the three tables for ``seed``; returns the sf directory."""
    sf_dir = os.path.join(WORK, "suite", f"seed{seed}")
    shutil.rmtree(sf_dir, ignore_errors=True)
    os.makedirs(sf_dir)
    for name, build in (("documents", _documents), ("embeddings", _embeddings),
                        ("events", _events)):
        rng = random.Random(f"{seed}:{name}")
        pq.write_table(build(rng), os.path.join(sf_dir, f"{name}.parquet"))
    return sf_dir


def _canon(v) -> str:
    """One spelling per value, whichever engine produced it: floats to 6
    significant digits, integral floats as integers, nested values
    element-wise."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        v = float(v)
        if v.is_integer() and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(_canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _rows(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(row[i]) for i in order) for row in rows)


def duckdb_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def collect_pass(spark, sf_dir: str, queries: dict) -> dict:
    """Run every query and keep its canonical rows (or the error). This
    is the warm-up pass; its rows are what ``failures`` checks."""
    from oxidizepdf_spark.queries import release_persisted

    out = {}
    for name, fn in queries.items():
        try:
            df = fn(spark, sf_dir)
            out[name] = (sorted(df.columns), _rows(df.columns, df.collect()))
        except Exception as e:  # a failing query is a measured outcome
            out[name] = e
        finally:
            release_persisted()
    return out


def failures(sf_dir: str, collected: dict, oracles: dict) -> list[str]:
    """Names of the queries that errored or differ from their oracle."""
    con = duckdb_con(sf_dir)
    bad = []
    try:
        for name, got in collected.items():
            if isinstance(got, Exception):
                print(f"perfbench: {name}: {type(got).__name__}: {got}", flush=True)
                bad.append(name)
                continue
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            if got != (sorted(cols), _rows(cols, cur.fetchall())):
                bad.append(name)
    finally:
        con.close()
    return bad


def one_pass(spark, sf_dir: str, queries: dict) -> tuple[float, float, dict]:
    """(pass wall, summed time the query builders take in this process,
    per-query seconds). A builder that runs Spark actions itself counts
    them as build time."""
    from oxidizepdf_spark.queries import release_persisted

    per, build = {}, 0.0
    t_pass = time.perf_counter()
    for name, fn in queries.items():
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        build += time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        per[name] = time.perf_counter() - t0
        release_persisted()
    return time.perf_counter() - t_pass, build, per


def run(args, k: int) -> tuple[dict, dict]:
    """Set up once (session plus the collecting warm-up pass), time noop
    passes for ``args.seconds`` (at least one), then check the collected
    rows against the oracles."""
    from oxidizepdf_spark.queries import build_oracles, build_queries

    from . import env
    from .rss import PeakSampler

    sf_dir = stage(args.seed)
    queries, oracles = build_queries(), build_oracles()
    t0 = time.perf_counter()
    spark = env.new_session(k)
    collected = collect_pass(spark, sf_dir, queries)
    setup_s = time.perf_counter() - t0

    walls, builds, peaks, per_query = [], [], [], {}
    t_start = time.perf_counter()
    while not walls or time.perf_counter() - t_start < args.seconds:
        with PeakSampler() as rss:
            wall, build, per = one_pass(spark, sf_dir, queries)
        walls.append(wall)
        builds.append(build)
        peaks.append(rss.peak_mb)
        for name, s in per.items():
            per_query.setdefault(name, []).append(s)
    spark.stop()
    bad = failures(sf_dir, collected, oracles)

    from statistics import median

    n = len(walls)
    if args.trace:
        metrics = {"queries.build_s": {"value": median(builds), "unit": "s"}}
        for name, times in per_query.items():
            metrics[f"queries.{name}_s"] = {"value": median(times), "unit": "s"}
    else:
        metrics = {
            "wall_s": {"value": median(walls), "unit": "s", "n": n},
            "docs_per_s": {"value": 0, "unit": "docs/s", "n": 0},
            "setup_s": {"value": setup_s, "unit": "s", "n": 1},
            "peak_rss_mb": {"value": median(peaks), "unit": "MB", "n": n},
            "failed_share": {"value": len(bad) / len(queries), "unit": "ratio", "n": 1},
            "span_mismatch_docs": {"value": 0, "unit": "count", "n": 0},
            "duplicate_rows": {"value": 0, "unit": "count", "n": 0},
            "oracle_failures": {"value": len(bad), "unit": "count", "n": 1},
        }
    verdict = {
        "correct": not bad,
        "attempted": len(queries),
        "failed": len(bad),
        "failed_queries": bad,
    }
    return metrics, verdict
