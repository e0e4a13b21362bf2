"""`queries` workload: read-only analytics through the query registry.

Input: the repo's test tables at scale factor 0.01 (the oracle tier of
TESTDATA.md), copied into ``data/sf0.01`` so that the benchmark reads
nothing outside its checkout: `events`, `documents` and `embeddings`,
the tables the leaves below read.  The seed sets the order in which each
timed pass runs the leaves.  The rollup and backfill code is nearly idle
here; what runs is the registry reached through
``__spark_entry__.queries()`` and the `operators.dedup`, `similarity`,
`textstats` calls behind the leaves.

Leaves: a fixed subset of bench.py's leaves, each defined once, by
``bench_extra.build_query_fns``.  The subset keeps ``doc_span_dedup`` and
leaves that go through ``textstats._ensure_parallelism`` (query-side
items of ROADMAP) and a leaf of each of the rollup, dedup, similarity and
textstats operators.  All 30 leaves of
bench.py plus ``emb_neardup`` take 73 s cold plus 42 s per warm pass on a
4-core host, more than one run of this benchmark may take.

Set-up (``setup_s``, the median of three): session start, then reading
each table.  Warm-up, untimed: one pass that collects every leaf: each
registry leaf is compared with its DuckDB oracle there, using
``tools/check_oracles.py``'s comparator, and each production
(non-registry) leaf's result is kept.  The timed operations are leaf
executions through the noop sink, in one pass over the leaves per 3 s of
``--seconds`` (four at 12 s); the first pass runs colder, and the
median over the passes leaves it out.
``work_s`` is the sum over leaves of each leaf's median.  After the
timed passes each production leaf is collected again and must equal its
first result.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time
from statistics import median

from harness import Run

REGISTRY_LEAVES = [
    "rollup_tiers",
    "doc_token_stats",
    "doc_span_dedup",
    "emb_knn",
]
PROD_LEAVES = ["doc_bm25_prod"]
LEAVES = REGISTRY_LEAVES + PROD_LEAVES
TABLES = ("events", "documents", "embeddings")
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# one timed pass per PASS_S seconds of --seconds (a pass takes ≈4-5 s on
# a 4-core host): a count set by the argument alone, since a loop bounded
# by time let faster runs do more passes and get warmer
PASS_S = 3


def load_checker(repo_root: str):
    path = os.path.join(repo_root, "tools", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_problems(checker, sdf, srows, rel) -> list[str]:
    """The comparison tools/check_oracles.py makes: column names, value
    kinds, row count, and the representation-strict value multiset."""
    scols, dcols = sdf.columns, rel.columns
    if sorted(scols) != sorted(dcols):
        return [f"columns spark={sorted(scols)} duckdb={sorted(dcols)}"]
    skinds = {f.name: checker.spark_kind(f.dataType.simpleString()) for f in sdf.schema.fields}
    dkinds = {c: checker.duck_kind(t) for c, t in zip(rel.columns, rel.types)}
    problems = [f"kind {c}: spark={skinds[c]} duckdb={dkinds[c]}"
                for c in scols if skinds[c] != dkinds[c]]
    drows = rel.fetchall()
    if len(srows) != len(drows):
        problems.append(f"rows spark={len(srows)} duckdb={len(drows)}")
    elif checker.df_multiset(scols, [tuple(r) for r in srows]) != checker.df_multiset(dcols, drows):
        problems.append("values differ")
    return problems


class Leaves:
    def __init__(self, run: Run, tables_dir: str, repo_root: str) -> None:
        import bench_extra

        self.run = run
        self.tables_dir = tables_dir
        self.repo_root = repo_root
        self.fns = bench_extra.build_query_fns(run.spark, tables_dir)
        self.checker = load_checker(repo_root)
        self.first: dict[str, list[str]] = {}
        self.rng = random.Random(run.seed)

    def check_pass(self) -> None:
        """Collect every leaf once; oracle-compare the registry leaves and
        keep the production leaves' results."""
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for name in TABLES:
                path = os.path.join(self.tables_dir, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
            for name in LEAVES:
                sdf = self.fns[name]()
                rows = sdf.collect()
                if name in PROD_LEAVES:
                    self.first[name] = self.checker.df_multiset(
                        sdf.columns, [tuple(r) for r in rows])
                    continue
                problems = oracle_problems(self.checker, sdf, rows, con.sql(oracles[name]))
                self.run.op(not problems, f"{name} vs oracle: {problems}")
        finally:
            con.close()

    def recheck_prod(self) -> None:
        for name in PROD_LEAVES:
            sdf = self.fns[name]()
            got = self.checker.df_multiset(sdf.columns, [tuple(r) for r in sdf.collect()])
            self.run.op(got == self.first[name], f"{name} differs from its first pass")

    def timed_pass(self, times: dict[str, list[float]]) -> None:
        """One noop-sink execution of every leaf, in an order drawn from
        the seed."""
        for name in self.rng.sample(LEAVES, len(LEAVES)):
            start = time.time()
            error = None
            try:
                with self.run.span(f"leaf/{name}"):
                    self.fns[name]().write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failed leaf is a failed op; keep going
                error = f"{type(e).__name__}: {e}"
            self.run.op(error is None, f"{name}: {error}")
            times.setdefault(name, []).append(time.time() - start)


def make_input(run: Run, repo_root: str, tables_dir: str = DATA_DIR) -> dict:
    """One set-up's input: read each table, and build the leaves on them."""
    rows = {name: run.spark.read.parquet(os.path.join(tables_dir, f"{name}.parquet")).count()
            for name in TABLES}
    return {"leaves": Leaves(run, tables_dir, repo_root), "rows": rows}


def warm_up(run: Run, ctx: dict) -> None:
    """The collect/oracle pass, in the session of the last set-up."""
    t0 = time.time()
    ctx["leaves"].check_pass()
    ctx["warmup_s"] = time.time() - t0


def run_untraced(run: Run, repo_root: str) -> dict:
    setup_s, ctx = run.timed_setups(lambda: make_input(run, repo_root))
    warm_up(run, ctx)
    times: dict[str, list[float]] = {}
    for _ in range(max(2, round(run.seconds / PASS_S))):
        ctx["leaves"].timed_pass(times)
    ctx["leaves"].recheck_prod()
    return {"setup_s": setup_s, "work_s": sum(median(ts) for ts in times.values())}


def layer_metrics(traced: dict[str, list[float]], pairs: list) -> dict:
    stats = {s.name: st for s, st in pairs}
    m: dict[str, float] = {}
    for name in LEAVES:
        m[f"query.{name}.s"] = traced[name][0]
        m[f"query.{name}.shuffle_bytes"] = stats[f"leaf/{name}"].shuffle_write_bytes
    return m
