"""Query workloads: passes over a fixed list of registered operators.

One closed-loop client runs the queries in order; a query is
`operators.registry.QUERIES[name](spark, dir)` (build: Python plan
construction plus any eager driver-side jobs) followed by a noop
write (exec). Every execution carries an observed, order-insensitive
fingerprint (row count + sum of 32-bit row hashes), so each timed
pass is checked against the pass whose rows matched the DuckDB
oracle (`registry.ORACLE`).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
from tracing import cpu_seconds

# Catalyst-native queries, one per plan shape: many short plans
RELATIONAL = [
    "flagship_pipeline", "agg_multi", "join_multiway", "join_asof",
    "win_topk_per_group", "ns_tfidf_topterms",
]
# vector queries: eager driver jobs while building, Arrow UDF workers
# (kmeans assigns centroids through mapInArrow); their oracles are
# too slow at the full vector count, so they are checked on the twin
VECTOR = ["ns_similarity_topk", "ns_cluster_kmeans"]
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# About one timed pass per PASS_S seconds of the run, at least two;
# each query's time is its best pass, so the first timed touch of the
# vector queries' full-size data and an interference burst do not set it.
PASS_S = 10.0

SF = 0.01  # relational scale factor: 60k lineitem rows
VECTORS = 2_000  # the sf0.1 embeddings count
TWIN_VECTORS = 300


def _fingerprinted(df):
    obs = Observation()
    cols = [F.col(f"`{c}`") for c in df.columns]
    return obs, df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).bitwiseAND(0xFFFFFFFF)).alias("h"),
    )


def _fp(obs) -> tuple:
    v = obs.get
    return (v["n"], v["h"])


def _oracle_problems(q: str, sf_dir: str, df) -> list[str]:
    """The repository's oracle comparison (row count, column names,
    exact values, no vacuous 0-row match) of `df` against
    `registry.ORACLE[q]` run by DuckDB on the same parquet files."""
    from flume_hive_batched_sink_spark.operators.registry import ORACLE
    from tests.oracle_harness import compare, duck_connection

    con = duck_connection(sf_dir)
    try:
        return [f"{q}: {p}" for p in compare(df, con, ORACLE[q])]
    finally:
        con.close()


class QueryMix:
    """The query workload: generated tables, set-up, a checked pass,
    then timed passes."""

    def __init__(self, name: str, seed: int, seconds: float, work: str, spans) -> None:
        self.name = name
        self.spans = spans
        self.queries = RELATIONAL + VECTOR
        self.data = os.path.join(work, "data")
        self.twin = os.path.join(work, "twin")
        star = gen.star_tables(seed, SF)
        self.rows = gen.write_tables(
            self.data, {**star, "embeddings": gen.embeddings_table(seed, VECTORS)}
        )
        gen.write_tables(
            self.twin, {**star, "embeddings": gen.embeddings_table(seed, TWIN_VECTORS)}
        )
        self.seconds = seconds
        self.problems: list[str] = []
        self.layers: dict[str, float] = {}

    def inputs(self) -> dict:
        return {"queries": len(self.queries), "rows": self.rows}

    def close(self) -> None:
        pass

    def warm(self, spark) -> dict[str, float]:
        """Set-up work: the first `tbl` touch of every table. Returns
        each touch's seconds."""
        from flume_hive_batched_sink_spark.operators.registry import tbl

        first = {}
        for t in TABLES:
            t0 = time.perf_counter()
            tbl(spark, self.data, t)
            first[t] = time.perf_counter() - t0
        return first

    def _run(self, spark, q: str, sf_dir: str, group: str, check: bool = False):
        """build + exec of one query under job groups `<group>.build`
        and `<group>.exec`; returns (build_s, exec_s, fingerprint,
        problems). With `check`, exec collects the result and compares
        it with the query's DuckDB oracle on the same files."""
        from flume_hive_batched_sink_spark import operators as ops

        sc = spark.sparkContext
        with self.spans.span("query", query=q):
            with self.spans.span("build"):
                sc.setJobGroup(f"{group}.build", q)
                t0 = time.perf_counter()
                df = ops.QUERIES[q](spark, sf_dir)
                t1 = time.perf_counter()
            with self.spans.span("exec"):
                sc.setJobGroup(f"{group}.exec", q)
                obs, fdf = _fingerprinted(df)
                problems = []
                if check:
                    problems = _oracle_problems(q, sf_dir, fdf)
                else:
                    fdf.write.mode("overwrite").format("noop").save()
                fp = _fp(obs)
                t2 = time.perf_counter()
        return t1 - t0, t2 - t1, fp, problems

    def measure(self, spark, meters) -> dict:
        failed = 0
        attempted = 0
        expect: dict[str, tuple] = {}
        # checked pass (untimed, and the warm-up of every plan):
        # relational results against their oracle on the same files,
        # which fixes the fingerprint every timed pass must reproduce;
        # vector results against theirs on the small twin, and every
        # timed pass must reproduce the first timed pass's fingerprint
        for q in self.queries:
            attempted += 1
            sf_dir = self.twin if q in VECTOR else self.data
            try:
                _b, _e, fp, probs = self._run(spark, q, sf_dir, f"check.{q}", check=True)
                if q not in VECTOR:
                    expect[q] = fp
            except Exception as exc:
                probs = [f"{q}: {type(exc).__name__}: {str(exc)[:300]}"]
            if probs:
                failed += 1
                self.problems.extend(probs)

        per_q: dict[str, list[tuple[float, float]]] = {q: [] for q in self.queries}
        layer_acc: dict[str, float] = {}
        passes: list[float] = []
        pass_cpu: list[float] = []
        for _ in range(max(2, round(self.seconds / PASS_S))):
            t_pass = time.perf_counter()
            c_pass = cpu_seconds()
            with self.spans.span("pass", n=len(passes)):
                for q in self.queries:
                    attempted += 1
                    mark = meters.start() if meters else None
                    try:
                        b, e, fp, _p = self._run(spark, q, self.data, f"q.{q}")
                    except Exception as exc:
                        failed += 1
                        self.problems.append(f"{q}: {type(exc).__name__}: {str(exc)[:300]}")
                        continue
                    per_q[q].append((b, e))
                    if fp != expect.setdefault(q, fp):
                        failed += 1
                        self.problems.append(f"{q}: fingerprint {fp}, expected {expect[q]}")
                    if meters:
                        for k, v in meters.since(mark).items():
                            layer_acc[k] = layer_acc.get(k, 0.0) + v
            passes.append(time.perf_counter() - t_pass)
            pass_cpu.append(cpu_seconds() - c_pass)

        for q, samples in per_q.items():
            if samples:
                self.layers[f"q.{q}.build_s"] = min(b for b, _e in samples)
                self.layers[f"q.{q}.exec_s"] = min(e for _b, e in samples)
        self.layers["operators.build_s"] = sum(self.layers.get(f"q.{q}.build_s", 0.0) for q in self.queries)
        self.layers["operators.exec_s"] = sum(self.layers.get(f"q.{q}.exec_s", 0.0) for q in self.queries)
        for k, v in layer_acc.items():
            self.layers[k] = v / len(passes)
        best = [min(b + e for b, e in s) for s in per_q.values() if s]
        return {
            "attempted": attempted,
            "failed": failed,
            "pass_s": passes,
            "cpu_s": pass_cpu,
            "op_s": best,
        }
