"""Per-layer metrics of a traced run.

Times are medians of span durations. Counters are taken from the ops
of the first traced unit, which is the same work in every run with the
same seed, so counts repeat exactly; ``sql.*`` counters are per query
of that round, ``dedup.*`` per curation cycle and ``streaming.*`` per
shard. A layer the workload does not exercise reports 0.
"""

from __future__ import annotations

import statistics

# name -> unit; the order and units BENCHMARK.json lists.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "catalog.register_s": "s",
    "sources.csv_register_s": "s",
    "sql.plan_s": "s",
    "sql.exec_s": "s",
    "sql.cpu_s": "s",
    "sql.stages": "count",
    "sql.tasks": "count",
    "sql.shuffle_bytes": "bytes",
    "sql.spill_bytes": "bytes",
    "sql.gc_s": "s",
    "catalog.input_bytes": "bytes",
    "catalog.rows_read_per_row_out": "ratio",
    "dedup.index_s": "s",
    "dedup.jaccard_s": "s",
    "dedup.minhash_s": "s",
    "dedup.components_s": "s",
    "pipeline.containment_s": "s",
    "pipeline.chunk_dedup_s": "s",
    "pipeline.tfidf_s": "s",
    "dedup.cpu_s": "s",
    "dedup.shuffle_bytes": "bytes",
    "dedup.shuffle_records": "count",
    "dedup.stages": "count",
    "dedup.task_skew": "ratio",
    "dedup.pairs_out": "count",
    "dedup.persisted_bytes": "bytes",
    "streaming.shard_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.overhead_s": "s",
    "streaming.cpu_s": "s",
    "streaming.pairs_out": "count",
    "trace.overhead_s": "s",
    "trace.self_s": "s",
}

DEDUP_LAYERS = (
    "dedup.index",
    "dedup.jaccard",
    "dedup.minhash",
    "dedup.components",
    "pipeline.containment",
    "pipeline.chunk_dedup",
    "pipeline.tfidf",
)
# Operator results whose rows are near-duplicate pairs.
PAIR_OPS = ("dedup.jaccard", "dedup.minhash", "pipeline.containment")


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _sum(recs, key: str) -> float:
    return sum(r["span"]["counters"][key] for r in recs)


def per_layer(wl, tr, unit_walls: list[float]) -> dict:
    m = dict.fromkeys(PER_LAYER, 0.0)
    setup = [s for s in tr.spans if s["op"] is None]
    in_ops = [s for s in tr.spans if s["op"] is not None]

    def spans(pool, name):
        return [s["end"] - s["start"] for s in pool if s["name"] == name]

    for key, name in (
        ("session.start_s", "session.start"),
        ("session.warmup_s", "session.warmup"),
        ("catalog.register_s", "catalog.register"),
        ("sources.csv_register_s", "sources.csv_register"),
    ):
        m[key] = _median(spans(setup, name))

    traced = [r for r in wl.records if r["span"] is not None]
    # The counter sample: every op of the first traced unit.
    sample = [r for r in traced if r["unit"] == traced[0]["unit"]]

    if wl.name == "adhoc_sql":
        m["sql.plan_s"] = _median(spans(in_ops, "sql.plan"))
        m["sql.exec_s"] = _median(spans(in_ops, "sql.exec"))
        n = len(sample)
        for key, counter in (
            ("sql.cpu_s", "cpu_s"),
            ("sql.stages", "stages"),
            ("sql.tasks", "tasks"),
            ("sql.shuffle_bytes", "shuffle_bytes"),
            ("sql.spill_bytes", "spill_bytes"),
            ("sql.gc_s", "gc_s"),
            ("catalog.input_bytes", "input_bytes"),
        ):
            m[key] = _sum(sample, counter) / n
        rows_out = sum(r.get("rows_out", 0) for r in sample)
        m["catalog.rows_read_per_row_out"] = _sum(sample, "input_records") / max(rows_out, 1)

    if wl.name == "curation":
        for layer in DEDUP_LAYERS:
            m[f"{layer}_s"] = _median(r["wall"] for r in traced if r["name"] == layer)
        batch = [r for r in sample if r["name"] in DEDUP_LAYERS]
        m["dedup.cpu_s"] = _sum(batch, "cpu_s")
        m["dedup.shuffle_bytes"] = _sum(batch, "shuffle_bytes")
        m["dedup.shuffle_records"] = _sum(batch, "shuffle_records")
        m["dedup.stages"] = _sum(batch, "stages")
        m["dedup.task_skew"] = _sum(batch, "task_max_s") / max(_sum(batch, "task_median_s"), 1e-3)
        m["dedup.pairs_out"] = sum(r.get("rows_out", 0) for r in batch if r["name"] in PAIR_OPS)
        m["dedup.persisted_bytes"] = wl.persisted_bytes or 0

        shards = [r for r in traced if r["name"] == "streaming.shard"]

        def batch_ms(rec, key):
            return sum(b["duration_ms"].get(key, 0) for b in rec["batches"])

        m["streaming.shard_s"] = _median(r["wall"] for r in shards)
        m["streaming.add_batch_ms"] = _median(batch_ms(r, "addBatch") for r in shards)
        m["streaming.wal_commit_ms"] = _median(batch_ms(r, "walCommit") for r in shards)
        m["streaming.overhead_s"] = _median(r["wall"] - batch_ms(r, "triggerExecution") / 1e3 for r in shards)
        sampled = [r for r in sample if r["name"] == "streaming.shard"]
        m["streaming.cpu_s"] = _sum(sampled, "cpu_s") / len(sampled)
        m["streaming.pairs_out"] = sum(r.get("rows_out", 0) for r in sampled)

    untraced = [w for i, w in enumerate(unit_walls) if i % 2 == 0]
    traced_units = [w for i, w in enumerate(unit_walls) if i % 2 == 1]
    m["trace.overhead_s"] = _median(traced_units) - _median(untraced)
    m["trace.self_s"] = tr.self_s / len(traced)
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in m.items()}
