"""Metric names and the per-layer numbers of one traced pass.

``END_TO_END`` and ``PER_LAYER`` are the metrics a run prints on its last
line (``--trace 0`` and ``--trace 1``); BENCHMARK.json lists the same names
and a test keeps the two in step.  Every per-layer metric is printed on
every workload: a layer a workload bypasses reads zero there.
"""

from __future__ import annotations

import statistics

from spans import Attribution, attribute_files, is_data_file, layer_of, spark_totals

ANALYTIC_QUERIES = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q20_top3_orders_per_customer",
    "q43_user_sessions",
    "q56_topk_cosine",
    "q85_tfidf_top_terms",
    "q169_basket_brand_lift",
    # these two cross the Arrow boundary under count(): grouped-map and
    # mapInArrow are opaque to column pruning, a scalar pandas UDF is not
    "q59_zscore_by_lang",
    "q164_mapinarrow_norms",
)

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "peak_rss_mb": "MB",
}

STRATEGIES = ("MERGE", "INSERT_OVERWRITE", "CREATE_TABLE")
COMMITS = ("versioned_write", "versioned_write_txn", "enable_change_data_feed",
           "versioned_upsert", "versioned_delete", "compact")
SHARE_LAYERS = ("pipeline", "sources.readers", "sinks.writer", "catalog", "sinks.merge",
                "streaming", "sinks.versioned", "sources.versioned_stream", "queries")

PER_LAYER: dict[str, str] = {"session.start_s": "s"}
PER_LAYER.update({
    "pipeline.run_ingestion.self_s": "s",
    "pipeline.run_merge.self_s": "s",
})
PER_LAYER.update({f"sources.readers.read_{f}.s": "s" for f in ("json", "csv", "parquet", "text")})
PER_LAYER.update({
    "sources.readers.files": "count",
    "sources.readers.files_failed": "count",
    "sources.readers.rows": "count",
    "sources.readers.corrupt_rows_landed": "count",
    "sources.readers.jobs": "count",
    "sinks.writer.write_tables.s": "s",
    "sinks.writer.verify_tables.s": "s",
    "sinks.writer.files_written": "count",
    "sinks.writer.bytes_written": "bytes",
    "sinks.writer.jobs": "count",
    "catalog.s": "s",
    "catalog.calls": "count",
})
PER_LAYER.update({f"sinks.merge.{s}.s": "s" for s in STRATEGIES})
PER_LAYER.update({f"sinks.merge.tables.{s}": "count" for s in STRATEGIES})
PER_LAYER.update({
    "sinks.merge.jobs": "count",
    "sinks.merge.shuffle_bytes": "bytes",
    "streaming.micro_batches": "count",
    "streaming.batch_ms.p50": "ms",
    "streaming.jobs_per_batch": "jobs/batch",
    "streaming.empty_batches": "count",
})
PER_LAYER.update({f"sinks.versioned.{v}.s": "s" for v in (
    "versioned_write", "versioned_upsert", "versioned_delete", "compact", "read_version",
    "read_change_feed")})
PER_LAYER.update({
    "sinks.versioned.jobs_per_commit": "jobs/commit",
    "sinks.versioned.files_added": "count",
    "sinks.versioned.files_live": "count",
    "sinks.versioned.files_rewritten_per_changed_row": "files/row",
    "sinks.versioned.bytes_written_per_user_byte": "ratio",
    "sources.versioned_stream.drain.s": "s",
    "sources.versioned_stream.replicate.s": "s",
    "sources.versioned_stream.batches_delivered": "count",
    "sources.versioned_stream.batches_with_rows": "count",
    "sources.versioned_stream.jobs": "count",
})
for _q in ANALYTIC_QUERIES:
    PER_LAYER.update({f"queries.{_q}.build_s": "s", f"queries.{_q}.exec_s": "s",
                      f"queries.{_q}.jobs": "count", f"queries.{_q}.shuffle_bytes": "bytes"})
PER_LAYER.update({
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.busy_s": "s",
    "driver.s": "s",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "trace.overhead_s": "s",
})
PER_LAYER.update({f"share.{layer}": "ratio" for layer in SHARE_LAYERS})

# Counts (units count and bytes) repeat exactly for a seed, except those
# listed here per workload with the reason; two same-seed traced runs
# (selfcheck.py --traced-pair) showed them move.
_TIMESTAMPED = "the versioned format writes commit timestamps into manifests and change rows, so bytes read and shuffled move by a few bytes run to run"
NON_EXACT = {
    "ingest_merge": {},
    "analytic_mix": {
        k: "q169 ran 16 jobs in one same-seed run and 14 in another, shuffling 2.3 MB against 1.2 MB; the cause is not yet identified"
        for k in ("queries.q169_basket_brand_lift.jobs", "queries.q169_basket_brand_lift.shuffle_bytes",
                  "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes")
    },
    "lakehouse_cdc": {
        **{k: _TIMESTAMPED for k in ("spark.input_bytes", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes")},
        **{k: "the drain's Python streaming data source exchanges batches that carry commit timestamps"
           for k in ("arrow.bytes_to_python", "arrow.bytes_from_python")},
    },
}


def exact_counts(workload: str) -> list[str]:
    return [n for n, u in PER_LAYER.items() if u in ("count", "bytes") and n not in NON_EXACT[workload]]


def layer_metrics(a: Attribution, res, run_s: float) -> dict[str, float]:
    """Every per-layer metric of one traced pass except the run-level ones
    (``session.start_s``, ``trace.overhead_s``)."""
    m: dict[str, float] = {}
    sp = a.spans

    def self_s(*names: str) -> float:
        return sum(a.self_ms[s.id] for s in sp if s.name in names) / 1000.0

    def named(name: str):
        return [s for s in sp if s.name == name]

    def jobs_named(*names: str):
        return a.jobs_under([s for s in sp if s.name in names])

    m["pipeline.run_ingestion.self_s"] = self_s("pipeline.run_ingestion")
    m["pipeline.run_merge.self_s"] = self_s("pipeline.run_merge")
    readers = [s for s in sp if s.name.startswith("sources.readers.read_")]
    for f in ("json", "csv", "parquet", "text"):
        m[f"sources.readers.read_{f}.s"] = self_s(f"sources.readers.read_{f}")
    m["sources.readers.files"] = len(readers)
    m["sources.readers.files_failed"] = sum(1 for s in readers if s.attrs.get("failed"))
    m["sources.readers.rows"] = sum(s.attrs.get("rows", 0) for s in readers)
    m["sources.readers.corrupt_rows_landed"] = res.extra.get("corrupt_rows_landed", 0)
    m["sources.readers.jobs"] = len(a.jobs_in_layer("sources.readers"))

    # files by the span whose interval holds their mtime
    span_by_id = {s.id: s for s in sp}
    by_span = attribute_files(sp, res.files)
    roots = res.table_roots

    def data(path) -> bool:
        return any(_under(path, r) and is_data_file(path, r) for r in roots)

    def files_in(pred) -> list[tuple]:
        return [(p, n) for sid, fs in by_span.items() if pred(span_by_id[sid]) for p, n in fs]

    m["sinks.writer.write_tables.s"] = self_s("sinks.writer.write_tables")
    m["sinks.writer.verify_tables.s"] = self_s("sinks.writer.verify_tables")
    # the staging database is dropped and recreated each round, so its
    # files are counted from the write commands' SQL metrics, not the disk
    writes = [x for x, s in a.execs if layer_of(s.name) == "sinks.writer"]
    m["sinks.writer.files_written"] = sum(x.files_written for x in writes)
    m["sinks.writer.bytes_written"] = sum(x.bytes_written for x in writes)
    m["sinks.writer.jobs"] = len(a.jobs_in_layer("sinks.writer"))
    catalog = [s for s in sp if layer_of(s.name) == "catalog"]
    m["catalog.s"] = a.layer_self_s("catalog")
    m["catalog.calls"] = len(catalog)

    merges = named("sinks.merge.merge_table")
    for st in STRATEGIES:
        mine = [s for s in merges if s.attrs.get("strategy") == st]
        m[f"sinks.merge.{st}.s"] = sum(a.self_ms[s.id] for s in mine) / 1000.0
        m[f"sinks.merge.tables.{st}"] = len(mine)
    merge_jobs = a.jobs_in_layer("sinks.merge")
    m["sinks.merge.jobs"] = len(merge_jobs)
    m["sinks.merge.shuffle_bytes"] = sum(j.shuffle_write_bytes for j in merge_jobs)

    progress = res.extra.get("progress", [])
    m["streaming.micro_batches"] = len(progress)
    durs = [p.get("durationMs", {}).get("triggerExecution", 0) for p in progress]
    m["streaming.batch_ms.p50"] = statistics.median(durs) if durs else 0.0
    stream_spans = [s for s in sp if layer_of(s.name) == "streaming"]
    m["streaming.jobs_per_batch"] = (len(a.jobs_under(stream_spans)) / len(progress)) if progress else 0.0
    m["streaming.empty_batches"] = sum(1 for p in progress if not p.get("numInputRows"))

    m["sinks.versioned.versioned_write.s"] = self_s("sinks.versioned.versioned_write",
                                                    "sinks.versioned.versioned_write_txn")
    for v in ("versioned_upsert", "versioned_delete", "compact", "read_version", "read_change_feed"):
        m[f"sinks.versioned.{v}.s"] = self_s(f"sinks.versioned.{v}")
    commits = [s for s in sp if s.name in {f"sinks.versioned.{c}" for c in COMMITS}]
    m["sinks.versioned.jobs_per_commit"] = len(a.jobs_under(commits)) / len(commits) if commits else 0.0
    commit_files = files_in(lambda s: s.name in {f"sinks.versioned.{c}" for c in COMMITS})
    m["sinks.versioned.files_added"] = sum(1 for p, _ in commit_files if data(p))
    m["sinks.versioned.files_live"] = res.extra.get("files_live", 0)
    rowlevel = files_in(lambda s: s.name in ("sinks.versioned.versioned_upsert", "sinks.versioned.versioned_delete"))
    changed = res.extra.get("changed_rows", 0)
    m["sinks.versioned.files_rewritten_per_changed_row"] = (
        sum(1 for p, _ in rowlevel if data(p)) / changed if changed else 0.0)
    user = res.extra.get("commit_input_bytes", 0)
    m["sinks.versioned.bytes_written_per_user_byte"] = sum(n for _, n in commit_files) / user if user else 0.0

    m["sources.versioned_stream.drain.s"] = self_s("sources.versioned_stream.drain")
    m["sources.versioned_stream.replicate.s"] = self_s("sources.versioned_stream.replicate")
    m["sources.versioned_stream.batches_delivered"] = res.extra.get("batches_delivered", 0)
    m["sources.versioned_stream.batches_with_rows"] = res.extra.get("batches_with_rows", 0)
    m["sources.versioned_stream.jobs"] = len(a.jobs_in_layer("sources.versioned_stream"))

    for q in ANALYTIC_QUERIES:
        b, e = f"queries.{q}.build", f"queries.{q}.exec"
        qjobs = jobs_named(b, e)
        m[f"queries.{q}.build_s"] = self_s(b)
        m[f"queries.{q}.exec_s"] = self_s(e)
        m[f"queries.{q}.jobs"] = len(qjobs)
        m[f"queries.{q}.shuffle_bytes"] = sum(j.shuffle_write_bytes for j in qjobs)

    m.update(spark_totals(a.jobs))
    m["driver.s"] = run_s - m["spark.busy_s"]
    for layer in SHARE_LAYERS:
        m[f"share.{layer}"] = a.layer_self_s(layer) / run_s if run_s else 0.0
    return m


def _under(p, root) -> bool:
    try:
        p.relative_to(root)
        return True
    except ValueError:
        return False


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (0 <= q <= 100)."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(values: list[float]) -> dict:
    """The highest percentile of the ladder with at least ten samples
    beyond it; ``None`` when there are fewer than twenty samples."""
    n = len(values)
    for q in TAIL_LADDER:
        if round(n * (100.0 - q) / 100.0, 6) >= 10:
            return {"percentile": q, "value": percentile(values, q), "samples": n}
    return {"percentile": None, "value": None, "samples": n}
