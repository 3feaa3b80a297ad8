"""The three workloads and their correctness checks.

``release`` and ``corpus`` run a checkpointed DAG from ``examples/``: one
iteration is one fully forced run into a fresh target root, one
``Pipeline.run`` call per task in dependency order. ``serve`` runs one
client in a closed loop over a fixed mix of registered queries, each forced
through the ``noop`` sink so every output column is computed; one
iteration is one pass over a seeded order of the mix.

Every operation (a DAG task or a query) yields an ``Op``. An op fails when
it raises, when its output is wrong, or when a task reports ``cached``
although its target root is fresh.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass

RELEASE_GOALS = ("stats_input", "release_diff", "solr_docs", "mongo_docs")
# the goals of examples/training_corpus_pipeline.main, plus embedding_model
# so that the similarity layer's PCA fit runs in the DAG
CORPUS_GOALS = ("profile", "indexed", "packed", "features", "tokenizer",
                "splits", "extracted", "gopher_gate", "quality_model",
                "mixed", "curriculum", "embedding_model")
SERVE_MIX = ("stats_results_mart", "lineitem_part_mart", "region_revenue",
             "top_customers_per_nation", "purchase_attribution_asof",
             "user_sessions", "emb_cosine_topk", "emb_ann_topk",
             "docs_bm25_search")
# DAG task -> the layer whose code does its work
TASK_LAYER = {
    "observations": "observations", "observations_final": "conform",
    "release_diff": "joins", "solr_docs": "sinks", "mongo_docs": "sinks",
    "clean_corpus": "dedup", "splits": "dedup", "decontaminated": "dedup",
    "tokenizer": "text", "selected": "text", "packed": "text",
    "embedding_model": "similarity", "features": "media",
}
# DAG task -> registered query whose DuckDB oracle computes the same plan,
# with the projection that query applies to the task's output
ORACLE_FOR_TASK = {
    "observations_final": (
        "observations_with_curves",
        "SELECT observation_id, experiment_id, parameter_family, "
        "observation_type, floor(data_point * 10000 + 0.5) / 10000 AS data_point, "
        "metadata_group FROM out",
    ),
}
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
CHECK_GROUP = "check"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Op:
    kind: str          # "task" | "query"
    name: str
    iteration: int
    seconds: float
    ok: bool
    plan_s: float = 0.0


@functools.lru_cache(maxsize=None)
def load_example(name: str):
    """Import ``examples/<name>.py`` of the checkout as a module."""
    path = os.path.join(ROOT, "examples", f"{name}.py")
    spec = importlib.util.spec_from_file_location(f"perfbench_{name}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def same_rows(spdf, pdf) -> bool:
    """Spark's and DuckDB's pandas frames hold the same rows, compared as
    the parity gate compares them (examples/driver_mimic.py): same column
    names, same row count, and equal canonicalized multisets of rows."""
    mimic = load_example("driver_mimic")
    got, want = mimic._pandas_rows(spdf), mimic._pandas_rows(pdf)
    return (sorted(spdf.columns) == sorted(pdf.columns) and len(got) == len(want)
            and mimic._canon(got, list(spdf.columns)) == mimic._canon(want, list(pdf.columns)))


def _duck(sf: str):
    import duckdb

    con = duckdb.connect(config={"memory_limit": "2GB"})
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    return con


def fingerprint(df) -> tuple[int, int]:
    """(row count, order-insensitive hash sum) computed in Spark."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    row = df.select(F.count(F.lit(1)).alias("n"),
                    F.sum(F.pmod(h, F.lit(2**31 - 1))).alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files) / 2**20


def _set_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


class Dag:
    """One DAG workload: ``release`` or ``corpus``."""

    def __init__(self, spark, sf: str, work: str, example: str, goals, tracer):
        self.module = load_example(example)
        self.spark, self.sf, self.goals, self.tracer = spark, sf, goals, tracer
        self.work = os.path.join(work, "dag")
        self.reference: dict[str, tuple[int, int] | None] = {}
        self.pipe = None  # the last iteration's Pipeline
        self.last_root: str | None = None
        self.task_inputs: dict[str, tuple[str, ...]] = {}
        self.target_mb: dict[int, dict[str, float]] = {}  # iteration -> task -> MB

    def iteration(self, it: int) -> tuple[float, list[Op]]:
        """(wall seconds of the task loop, ops); the checks are untimed."""
        if self.last_root:
            shutil.rmtree(self.last_root, ignore_errors=True)
        root = self.last_root = os.path.join(self.work, str(it))
        t_start = time.perf_counter()
        pipe = self.module.build(self.spark, self.sf, root)
        ops = []
        with self.tracer.span("iteration", "bench"):
            for name in pipe._toposort(self.goals):
                self.task_inputs[name] = tuple(pipe._tasks[name].inputs)
                _set_group(self.spark, f"task:{name}:{it}")
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(f"task:{name}", "runner"):
                        status = pipe.run(name).get(name)
                    ok = status == "ran"
                except Exception:
                    traceback.print_exc()
                    ok = False
                ops.append(Op("task", name, it, time.perf_counter() - t0, ok))
        wall = time.perf_counter() - t_start
        self.target_mb[it] = {op.name: _dir_mb(pipe.target(op.name)) for op in ops}
        self.pipe = pipe
        if not self.reference:
            _set_group(self.spark, CHECK_GROUP)
            self.reference = self._fingerprints()
        return wall, ops

    def _fingerprints(self) -> dict[str, tuple[int, int] | None]:
        out = {}
        for goal in self.goals:
            try:
                out[goal] = fingerprint(self.pipe.read(goal))
            except Exception:
                traceback.print_exc()
                out[goal] = None
        return out

    def wrong_outputs(self) -> set[str]:
        """Tasks whose output is wrong, judged on the last iteration's
        targets: goals whose fingerprint differs from the first
        iteration's, and tasks that differ from their registered oracle.
        Untimed."""
        _set_group(self.spark, CHECK_GROUP)
        last = self._fingerprints()
        wrong = {g for g in self.goals if last[g] is None or last[g] != self.reference[g]}
        return wrong | {task for task, (query, projection) in ORACLE_FOR_TASK.items()
                        if task in self.task_inputs
                        and not self._matches_oracle(task, query, projection)}

    def _matches_oracle(self, task: str, query: str, projection: str) -> bool:
        """Exact multiset equality in DuckDB: EXCEPT ALL both ways."""
        from impc_etl_spark.queries import ORACLE

        con = _duck(self.sf)
        target = self.pipe.target(task)
        try:
            con.sql(f"CREATE VIEW out AS SELECT * FROM read_parquet('{target}/*.parquet')")
            con.sql(f"CREATE VIEW got AS {projection}")
            con.sql(f"CREATE VIEW want AS {ORACLE[query]}")
            extra = con.sql("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)").fetchone()[0]
            missing = con.sql("SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)").fetchone()[0]
        finally:
            con.close()
        return extra == 0 and missing == 0

    def close(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


class Serve:
    """Closed loop, one client, over SERVE_MIX in a seeded order."""

    def __init__(self, spark, sf: str, seed: int, tracer):
        from impc_etl_spark.queries import QUERIES

        self.queries = QUERIES
        self.spark, self.sf, self.tracer = spark, sf, tracer
        self.rng = random.Random(seed)

    def iteration(self, it: int) -> tuple[float, list[Op]]:
        order = list(SERVE_MIX)
        self.rng.shuffle(order)
        ops = []
        t_start = time.perf_counter()
        with self.tracer.span("iteration", "bench"):
            for name in order:
                _set_group(self.spark, f"query:{name}:{it}")
                t0 = time.perf_counter()
                plan_s, ok = 0.0, True
                try:
                    with self.tracer.span(f"query:{name}", "queries"):
                        df = self.queries[name](self.spark, self.sf)
                        plan_s = time.perf_counter() - t0
                        df.write.format("noop").mode("overwrite").save()
                except Exception:
                    traceback.print_exc()
                    ok = False
                ops.append(Op("query", name, it, time.perf_counter() - t0, ok, plan_s))
        wall = time.perf_counter() - t_start
        _set_group(self.spark, CHECK_GROUP)
        return wall, ops

    def wrong_outputs(self) -> set[str]:
        """Names whose output differs from their DuckDB oracle (see
        ``same_rows``). Untimed."""
        from impc_etl_spark.queries import ORACLE

        _set_group(self.spark, CHECK_GROUP)
        wrong = set()
        con = _duck(self.sf)
        try:
            for name in sorted(SERVE_MIX):
                try:
                    spdf = self.queries[name](self.spark, self.sf).toPandas()
                    pdf = con.sql(ORACLE[name]).df()
                    same = same_rows(spdf, pdf)
                except Exception:
                    traceback.print_exc()
                    same = False
                if not same:
                    wrong.add(name)
        finally:
            con.close()
        return wrong

    def close(self) -> None:
        pass


def make(name: str, spark, sf: str, work: str, seed: int, tracer):
    if name == "release":
        return Dag(spark, sf, work, "release_pipeline", RELEASE_GOALS, tracer)
    if name == "corpus":
        return Dag(spark, sf, work, "training_corpus_pipeline", CORPUS_GOALS, tracer)
    if name == "serve":
        return Serve(spark, sf, seed, tracer)
    raise ValueError(f"unknown workload {name!r}")
