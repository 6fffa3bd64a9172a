"""Per-layer metrics of a traced run, from its spans and Spark event log.

Every traced run reports the same metric names (0 where the workload does
not exercise the layer). Per-op figures are over the timed
phase; an op is a ``foreachBatch`` commit (ingest workloads) or a request
(api_reads).
"""

from __future__ import annotations

import statistics

from spans import COUNTERS, spark_counters

MERGE_TARGETS = ("accounts", "gateways", "validators", "ouis", "vars", "oracle_prices")
API_KINDS = ("lookup", "activity", "rewards", "stats", "sql")
LAYERS = ("sources", "ingest", "write", "merge", "cdc", "activity", "bench")
# history tables whose rows a batch folds into the inventories
UPDATE_TABLES = ("transaction_actors", "gateways", "validators", "ouis", "vars", "oracle_prices")


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(w, tracer, trace_dir: str, e2e: dict) -> dict[str, tuple[float, str]]:
    from workloads import lake_bytes

    kids = tracer.children()
    spans = tracer.spans
    measure = [s for s in spans if s.phase == "measure"]
    batches = [s for s in measure if s.name == "ingest.process_batch"]
    requests = [s for s in measure if s.name.startswith("api.")]
    ops = batches or requests
    n_ops = max(1, len(ops))
    m: dict[str, tuple[float, str]] = {}

    session = tracer.named("session.get_spark")
    m["session.start_s"] = (session[0].end - session[0].start if session else 0.0, "s")

    # stream wall time outside foreachBatch, per follower trigger
    gaps = []
    for s in measure:
        if s.name == "ingest.run_blockfiles_stream":
            inner = sum(c.end - c.start for c in tracer.descendants(s, kids) if c.name == "ingest.process_batch")
            gaps.append((s.end - s.start) - inner)
    m["sources.trigger_gap_s"] = (_med(gaps), "s")

    per_batch = []
    for b in batches:
        desc = tracer.descendants(b, kids)
        writes = [d for d in desc if d.name == "write.parquet"]
        direct = [d for d in writes if d.parent == b.id]
        # inventory merges; the stats views' own merges count under cdc
        merges = [d for d in desc if d.name == "merge.merge_with" and d.attrs["target"].endswith("_inventory")]
        merge_ids = {d.id for d in merges}
        # a merge writes the new state, then its CDC changelog segment
        changelogs = [d for d in writes if d.parent in merge_ids and "/changelog/" in d.attrs["path"]]
        # rows the batch folds in (its entity-history partials and actor
        # rows) against rows the merges write back as the new state
        updates = sum(d.attrs["rows"] for d in direct if d.attrs["path"].split("/")[-2] in UPDATE_TABLES)
        rewritten = sum(d.attrs["rows"] for d in writes if d.parent in merge_ids) - sum(
            d.attrs["rows"] for d in changelogs
        )
        per_batch.append(
            {
                "self": tracer.self_time(b, kids),
                "table_write": sum(d.end - d.start for d in direct),
                "files": sum(d.attrs.get("files", 0) for d in writes),
                "bytes": sum(d.attrs.get("bytes", 0) for d in writes),
                "merge": sum(d.end - d.start for d in merges),
                "calls": len(merges),
                "rewritten": rewritten,
                "ratio": updates / rewritten if rewritten else 0.0,
                "catch_up": sum(d.end - d.start for d in desc if d.name == "cdc.catch_up"),
                "changelog_rows": sum(d.attrs["rows"] for d in changelogs),
                **{
                    f"t_{t}": sum(d.end - d.start for d in merges if d.attrs["target"] == f"{t}_inventory")
                    for t in MERGE_TARGETS
                },
            }
        )

    def pb(key: str) -> float:
        return _med(x[key] for x in per_batch)

    m["ingest.process_batch_self_s"] = (pb("self"), "s")
    m["ingest.table_write_s"] = (pb("table_write"), "s")
    m["ingest.files_written_per_batch"] = (pb("files"), "count")
    m["ingest.bytes_written_per_batch"] = (pb("bytes"), "B")
    m["merge.merge_with_s"] = (pb("merge"), "s")
    for t in MERGE_TARGETS:
        m[f"merge.{t}_s"] = (pb(f"t_{t}"), "s")
    m["merge.calls_per_batch"] = (pb("calls"), "count")
    m["merge.state_rows_rewritten"] = (pb("rewritten"), "count")
    m["merge.update_rows_per_rewritten_row"] = (pb("ratio"), "ratio")
    m["cdc.catch_up_s"] = (pb("catch_up"), "s")
    m["cdc.changelog_rows"] = (pb("changelog_rows"), "count")

    compacts = [s for s in spans if s.name == "bench.compact"]
    compact_writes = [d for c in compacts for d in tracer.descendants(c, kids) if d.name == "write.parquet"]
    m["compact.bytes_rewritten"] = (sum(d.attrs.get("bytes", 0) for d in compact_writes), "B")
    m["compact.files_before"] = (w.res.extra.get("compact.files_before", 0), "count")
    m["compact.files_after"] = (w.res.extra.get("compact.files_after", 0), "count")

    for k in API_KINDS:
        m[f"api.{k}_p50_ms"] = (_med((s.end - s.start) * 1000 for s in requests if s.name == f"api.{k}"), "ms")
    lat = sorted((s.end - s.start) * 1000 for s in requests)
    m["api.request_p90_ms"] = (lat[int(0.9 * (len(lat) - 1))] if lat else 0.0, "ms")

    counters = spark_counters(f"{trace_dir}/eventlog", spans)

    def under(roots) -> dict[str, float]:
        tot = dict.fromkeys(COUNTERS, 0.0)
        for r in roots:
            for s in [r, *tracer.descendants(r, kids)]:
                for k, v in counters.get(s.id, {}).items():
                    tot[k] += v
        return tot

    op_tot = under(ops)
    m["read.input_bytes_per_request"] = (under(requests)["input_bytes"] / max(1, len(requests)), "B")
    m["read.files_scanned_per_request"] = (under(requests)["files_read"] / max(1, len(requests)), "count")
    units = {"executor_run_s": "s", "jvm_gc_s": "s", "files_read": "count"}
    for k in COUNTERS:
        if k != "files_read":
            m[f"spark.{k}_per_op"] = (op_tot[k] / n_ops, units.get(k, "B" if k.endswith("bytes") else "count"))

    # self time and Spark jobs per layer over the timed phase, per op
    for layer in LAYERS:
        own = [s for s in measure if s.layer == layer]
        m[f"self_s.{layer}_per_op"] = (sum(tracer.self_time(s, kids) for s in own) / n_ops, "s")
        m[f"spark.jobs_per_op.{layer}"] = (sum(counters.get(s.id, {}).get("jobs", 0) for s in own) / n_ops, "count")

    total, retained = lake_bytes(w.lake)
    m["lake.bytes"] = (total, "B")
    m["lake.retained_inventory_version_bytes"] = (retained, "B")
    m["trace.spans"] = (len(spans), "count")
    m["host.steal_pct"] = (w.res.steal_pct, "%")
    # the end-to-end and wall-clock figures, measured with tracing on: the
    # tracing overhead is these minus an untraced run's (see overhead.py)
    for k, (v, u) in e2e.items():
        m[f"traced.{k}"] = (v, u)
    return m
