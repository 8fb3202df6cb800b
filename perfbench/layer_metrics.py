"""Per-layer metrics of a traced run.

``op_figures`` is called right after each timed operation (outside its
timed window) and reads the Spark figures of that operation's own job
groups; ``collect`` takes the median of each figure over the timed
operations. Every metric in ``PER_LAYER`` is printed for every
workload; a layer the workload does not run reads 0.
"""

from __future__ import annotations

import statistics

SPARK = [
    ("spark.jobs", "count", "jobs"),
    ("spark.stages", "count", "stages"),
    ("spark.tasks", "count", "tasks"),
    ("spark.task_s", "s", "task_s"),
    ("spark.task_cpu_s", "s", "task_cpu_s"),
    ("spark.gc_s", "s", "gc_s"),
    ("spark.input_bytes", "B", "input_bytes"),
    ("spark.output_bytes", "B", "output_bytes"),
    ("spark.shuffle_write_bytes", "B", "shuffle_write_bytes"),
    ("spark.spill_bytes", "B", "spill_bytes"),
    ("spark.driver_only_s", "s", "driver_only_s"),
]

# Wrapped function -> the figures recorded for its spans.
SPANS = {
    "sources.files.find_historical_files": ["s"],
    "sources.tebis_csv.peek_headers": ["s"],
    "sources.tebis_csv.read_datapoints": ["s"],
    "sinks.datapoints.write_datapoints": ["s", "jobs", "task_s", "output_bytes"],
    "sinks.catalog_store.append_missing":
        ["s", "jobs", "task_s", "input_bytes", "rows_created"],
    "sinks.merge_store.upsert_into_store": ["s", "jobs", "task_s", "output_bytes"],
    "sinks.merge_store.read_store_for_keys": ["s", "jobs", "input_bytes"],
    "sinks.lifecycle.finalize_succeeded": ["s"],
    "plans.pipeline.run_historical": ["self_s"],
    "streaming.live.process_batch": ["self_s"],
    "plans.read_api.read_datapoints": ["s", "jobs", "input_bytes"],
    "sources.documents.read_documents_jsonl": ["s"],
    "operators.dedup.dedup_incremental": ["s", "jobs", "task_s", "input_bytes"],
    "sinks.corpus.write_corpus": ["s", "output_bytes"],
    "operators.textops.append_bm25_shard": ["s", "jobs"],
    "operators.textops.bm25_topk_from_index": ["s", "jobs"],
    "plans.corpus_ingest.ingest_corpus_shard": ["self_s", "self_jobs"],
}
UNITS = {"s": "s", "self_s": "s", "jobs": "count", "self_jobs": "count",
         "task_s": "s", "input_bytes": "B", "output_bytes": "B",
         "rows_created": "count"}

PER_LAYER = (
    [(name, unit) for name, unit, _ in SPARK]
    + [("spark.unattributed_jobs", "count")]
    + [(f"{fn}.{sfx}", UNITS[sfx]) for fn, sfxs in SPANS.items() for sfx in sfxs]
    + [("sources.tebis_csv.csv_reads_per_byte", "B/B"),
       ("traced.op_p50_s", "s")]
)


def op_figures(tracer, roots, result) -> dict:
    """Figures of one timed operation; ``roots`` are its top-level spans:
    the operation itself, then its serving read."""
    tracer.sc._jsc.sc().listenerBus().waitUntilEmpty()
    op_root = roots[0]
    whole = tracer.spark_stats(tracer.subtree(op_root))
    fig = {name: whole[key] for name, _, key in SPARK}
    for root in roots:
        for span in tracer.subtree(root):
            sfxs = SPANS.get(span.name)
            if not sfxs:
                continue
            stats = None
            for sfx in sfxs:
                if sfx == "s":
                    v = span.end - span.start
                elif sfx == "self_s":
                    v = tracer.self_time(span)
                elif sfx == "self_jobs":
                    v = tracer.spark_stats([span])["jobs"]
                elif sfx == "rows_created":
                    v = span.extra.get("result", 0)
                else:
                    stats = stats or tracer.spark_stats(tracer.subtree(span))
                    v = stats[sfx]
                key = f"{span.name}.{sfx}"
                fig[key] = fig.get(key, 0) + v
    if result.input_bytes and whole["csv_input_bytes"]:
        fig["sources.tebis_csv.csv_reads_per_byte"] = (
            whole["csv_input_bytes"] / result.input_bytes)
    return fig


def collect(tracer, figures: list[dict], results) -> dict:
    out = {}
    for name, unit in PER_LAYER:
        if name == "spark.unattributed_jobs":
            value = tracer.unattributed_jobs
        elif name == "traced.op_p50_s":  # minus the untraced op_p50_s: overhead
            value = statistics.median(r.seconds for r in results)
        else:
            value = statistics.median(f.get(name, 0) for f in figures)
        out[name] = {"value": value, "unit": unit}
    return out
