"""Per-layer metrics of the traced run.

``LayerProbe.install`` wraps the public functions of each layer module
with spans; ``after_iteration`` counts what the dedup and packing layers
produced (untimed, in the ``check`` job group); ``metrics`` turns spans,
event-log counters and those counts into the per-iteration values named in
``METRICS`` (the median over the traced iterations is reported).
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from spans import layer_time, self_times
from workloads import TASK_LAYER

RELEASE_TASKS = ("orders_raw", "lineitem_raw", "orders_clean", "observations",
                 "observations_final", "stats_input", "release_diff", "mart",
                 "solr_docs", "mongo_docs")
CORPUS_TASKS = ("documents", "profile", "clean_corpus", "decontaminated",
                "selected", "indexed", "packed", "features", "tokenizer",
                "splits", "extracted", "gopher_gate", "quality_model", "mixed",
                "curriculum", "embedding_model")
LAYERS = ("runner", "observations", "joins", "conform", "sinks", "dedup",
          "text", "similarity", "media", "queries")
# module (import path) -> (layer, public functions wrapped with spans)
WRAPPED = {
    "impc_etl_spark.plans.observations": ("observations", (
        "observations", "nest_experiments", "map_to_observations_fused",
        "synthesize_curve_observations")),
    "impc_etl_spark.operators.joins": ("joins", (
        "release_diff", "anti_join", "asof_join")),
    "impc_etl_spark.operators.conform": ("conform", ("union_conform",)),
    "impc_etl_spark.sources.sinks": ("sinks", (
        "shape_solr_documents", "shape_mongo_documents")),
    "impc_etl_spark.operators.dedup": ("dedup", (
        "lsh_candidate_pairs", "dup_spans", "decontaminate",
        "connected_components")),
    "impc_etl_spark.operators.text": ("text", (
        "collapse_repeats", "scrub_pii", "tokens", "add_quality_signals",
        "repetition_signals", "budget_select", "pack_sequences",
        "learn_bpe_merges", "extract_main_content", "c4_clean", "bm25_topk")),
    "impc_etl_spark.operators.similarity": ("similarity", (
        "pca_fit", "pca_project", "cosine_topk", "ann_topk")),
    "impc_etl_spark.multimodal.media": ("media", (
        "attach_binary", "media_features")),
}
PACK_BUDGET = 512  # examples/training_corpus_pipeline.py "packed" task

_S, _MB, _N, _R = "s", "MB", "count", "ratio"
METRICS: dict[str, tuple[str, str]] = {  # name -> (unit, better)
    **{f"runner.task_s.{t}": (_S, "lower") for t in RELEASE_TASKS + CORPUS_TASKS},
    "runner.checkpoint_write_mb": (_MB, "lower"),
    "runner.checkpoint_read_mb": (_MB, "lower"),
    "runner.tasks_ran": (_N, "higher"),
    "observations.plan_s": (_S, "lower"),
    "observations.exec_s": (_S, "lower"),
    "observations.rows_out": (_N, "higher"),
    "observations.shuffle_write_mb": (_MB, "lower"),
    "observations.spill_mb": (_MB, "lower"),
    "joins.release_diff_s": (_S, "lower"),
    "joins.asof_s": (_S, "lower"),
    "joins.shuffle_write_mb": (_MB, "lower"),
    "conform.union_s": (_S, "lower"),
    "sinks.shape_s": (_S, "lower"),
    "dedup.exec_s": (_S, "lower"),
    "dedup.candidate_pairs": (_N, "lower"),
    "dedup.removed_docs": (_N, "higher"),
    "dedup.useful_ratio": (_R, "higher"),
    "dedup.jobs": (_N, "lower"),
    "dedup.shuffle_write_mb": (_MB, "lower"),
    "dedup.spill_mb": (_MB, "lower"),
    "text.exec_s": (_S, "lower"),
    "text.bpe_s": (_S, "lower"),
    "text.bm25_s": (_S, "lower"),
    "text.pack_fill_ratio": (_R, "higher"),
    "text.packs": (_N, "lower"),
    "similarity.pca_fit_s": (_S, "lower"),
    "similarity.topk_s": (_S, "lower"),
    "media.features_s": (_S, "lower"),
    "media.dead_letter_rows": (_N, "lower"),
    "queries.plan_s": (_S, "lower"),
    "queries.exec_s": (_S, "lower"),
    "queries.jobs_per_query": (_N, "lower"),
    "session.executor_run_s": (_S, "lower"),
    "session.scheduler_delay_s": (_S, "lower"),
    "session.gc_s": (_S, "lower"),
    "session.tasks": (_N, "lower"),
    "session.failed_tasks": (_N, "lower"),
    "session.shuffle_write_mb": (_MB, "lower"),
    "session.spill_mb": (_MB, "lower"),
    **{f"self_s.{layer}": (_S, "lower") for layer in LAYERS},
    "trace.wall_s": (_S, "lower"),
    "trace.untraced_wall_s": (_S, "lower"),
    "trace.overhead_s": (_S, "lower"),
}


class LayerProbe:
    def __init__(self, tracer):
        self.tracer = tracer
        self._pairs: list = []
        self.counts: dict[int, dict[str, float]] = defaultdict(dict)

    def install(self) -> None:
        import importlib

        for module, (layer, names) in WRAPPED.items():
            mod = importlib.import_module(module)
            for name in names:
                keep = self._keep_pairs if name == "lsh_candidate_pairs" else None
                self.tracer.wrap(mod, name, layer, on_return=keep)

    def _keep_pairs(self, pairs, args, kwargs) -> None:
        self._pairs.append(pairs)

    def after_iteration(self, it: int, dag_root: str | None) -> None:
        """Count candidate pairs, the documents they would remove, and the
        packs of this iteration; runs outside the timed region."""
        from pyspark.sql import functions as F

        c = self.counts[it]
        pairs = removed = 0
        for df in self._pairs:
            row = df.agg(F.count(F.lit(1)).alias("n"),
                         F.countDistinct("doc_b").alias("b")).first()
            pairs, removed = pairs + row["n"], removed + row["b"]
        self._pairs.clear()
        c["dedup.candidate_pairs"], c["dedup.removed_docs"] = pairs, removed
        c["dedup.useful_ratio"] = removed / pairs if pairs else 0.0
        packed = os.path.join(dag_root or "", "packed.parquet")
        if dag_root and os.path.exists(packed):
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            row = spark.read.parquet(packed).agg(
                F.sum("n_tokens").alias("t"),
                F.countDistinct("pack_id").alias("p")).first()
            c["text.packs"] = row["p"]
            c["text.pack_fill_ratio"] = row["t"] / (row["p"] * PACK_BUDGET)


def iteration_metrics(it: int, spans: list[dict], self_s: dict[int, float],
                      groups: dict, jobs: list, ops: list, task_inputs: dict,
                      target_mb: dict, counts: dict) -> dict[str, float]:
    sp = [s for s in spans if s["iteration"] == it]
    dur = {s["name"]: s["end"] - s["start"] for s in sp}
    selfd = {s["name"]: self_s[s["id"]] for s in sp}
    tasks = [o.name for o in ops if o.kind == "task"]
    queries = [o for o in ops if o.kind == "query"]

    def g(kind, name, key):
        return groups.get(f"{kind}:{name}:{it}", {}).get(key, 0.0)

    def tasks_of(layer):
        return [t for t in tasks if TASK_LAYER.get(t) == layer]

    def task_sum(names, key):
        return sum(g("task", t, key) for t in names)

    m = {name: 0.0 for name in METRICS if not name.startswith("trace.")}
    for t in tasks:
        m[f"runner.task_s.{t}"] = dur.get(f"task:{t}", 0.0)
    m["runner.tasks_ran"] = sum(o.ok for o in ops if o.kind == "task")
    # checkpoint sizes on disk: the event log's parquet input bytes
    # undercount on the local file system
    size = target_mb.get(it, {})
    m["runner.checkpoint_write_mb"] = sum(size.values())
    m["runner.checkpoint_read_mb"] = sum(
        size.get(p, 0.0) for t in tasks for p in task_inputs.get(t, ()))
    m["observations.plan_s"] = layer_time(sp, "observations")
    m["observations.exec_s"] = selfd.get("task:observations", 0.0)
    m["observations.rows_out"] = g("task", "observations", "records_written")
    m["observations.shuffle_write_mb"] = g("task", "observations", "shuffle_write_mb")
    m["observations.spill_mb"] = g("task", "observations", "spill_mb")
    m["joins.release_diff_s"] = dur.get("task:release_diff", 0.0)
    m["joins.asof_s"] = dur.get("query:purchase_attribution_asof", 0.0)
    m["joins.shuffle_write_mb"] = (
        g("task", "release_diff", "shuffle_write_mb")
        + g("query", "purchase_attribution_asof", "shuffle_write_mb"))
    m["conform.union_s"] = dur.get("task:observations_final", 0.0)
    m["sinks.shape_s"] = dur.get("task:solr_docs", 0.0) + dur.get("task:mongo_docs", 0.0)
    dedup_tasks = tasks_of("dedup")
    m["dedup.exec_s"] = sum(selfd.get(f"task:{t}", 0.0) for t in dedup_tasks)
    m["dedup.shuffle_write_mb"] = task_sum(dedup_tasks, "shuffle_write_mb")
    m["dedup.spill_mb"] = task_sum(dedup_tasks, "spill_mb")
    dedup_spans = [(s["start"], s["end"]) for s in sp if s["layer"] == "dedup"]
    m["dedup.jobs"] = sum(1 for _, t in jobs if any(a <= t <= b for a, b in dedup_spans))
    m["text.exec_s"] = sum(selfd.get(f"task:{t}", 0.0) for t in tasks_of("text"))
    m["text.bpe_s"] = layer_time(sp, "text", "text.learn_bpe_merges")
    m["text.bm25_s"] = dur.get("query:docs_bm25_search", 0.0)
    m["similarity.pca_fit_s"] = layer_time(sp, "similarity", "similarity.pca_fit")
    m["similarity.topk_s"] = dur.get("query:emb_cosine_topk", 0.0) + dur.get("query:emb_ann_topk", 0.0)
    m["media.features_s"] = dur.get("task:features", 0.0)
    if "features" in tasks:
        m["media.dead_letter_rows"] = (g("task", "selected", "records_written")
                                       - g("task", "features", "records_written"))
    if queries:
        m["queries.plan_s"] = statistics.median(o.plan_s for o in queries)
        m["queries.exec_s"] = statistics.median(o.seconds - o.plan_s for o in queries)
        m["queries.jobs_per_query"] = statistics.mean(
            g("query", o.name, "jobs") for o in queries)
    suffix = f":{it}"
    mine = [c for name, c in groups.items() if name.endswith(suffix)]
    for key in ("executor_run_s", "scheduler_delay_s", "gc_s", "tasks",
                "failed_tasks", "shuffle_write_mb", "spill_mb"):
        m[f"session.{key}"] = sum(c[key] for c in mine)
    for s in sp:
        if s["layer"] in LAYERS:
            m[f"self_s.{s['layer']}"] += self_s[s["id"]]
    m.update(counts.get(it, {}))
    return m


def metrics(iterations: list[int], spans: list[dict], groups: dict, jobs: list,
            ops: list, task_inputs: dict, target_mb: dict,
            counts: dict) -> dict[str, float]:
    """Median over the traced iterations of every per-iteration metric."""
    st = self_times(spans)
    per = [iteration_metrics(it, spans, st, groups, jobs,
                             [o for o in ops if o.iteration == it],
                             task_inputs, target_mb, counts) for it in iterations]
    return {k: statistics.median(p[k] for p in per) for k in per[0]}
