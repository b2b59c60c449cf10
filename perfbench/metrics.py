"""Turn one run's samples and spans into the metrics ``BENCHMARK.json``
names. Spark-free: it reads only Python values the workloads recorded.

Per-layer ``*.wall_s`` and ``*.jobs`` are means per call of that layer,
except the ``pipeline.*`` and ``table.snapshot.wall_s`` figures, which
are per timed batch. A layer a workload never calls reads 0.
"""

from __future__ import annotations

from statistics import fmean

from harness import Span, Tracer, attribute, percentile

PIPELINE_LAYERS = ("bronze", "silver", "silver_tomb", "gold", "keyidx", "qa")


def pipeline_layer(sp: Span) -> str | None:
    """Medallion layer of a span inside ``pipeline.batch``: merges by their
    ledger batch key (``silver_tomb:…``, ``gold_daily_keyidx:…``), the
    wrapped pipeline steps by their span name."""
    if sp.name == "merge":
        key = sp.attrs.get("batch_key", "")
        if "_keyidx:" in key:
            return "keyidx"
        prefix = key.split(":", 1)[0]
        if prefix.startswith("gold_"):
            return "gold"
        return prefix if prefix in PIPELINE_LAYERS else None
    if sp.name.startswith("pipeline.") and sp.name != "pipeline.batch":
        return sp.name.split(".", 1)[1]
    return None


def _mean(xs) -> float:
    xs = list(xs)
    return fmean(xs) if xs else 0.0


def _p(xs, q) -> float:
    return percentile(xs, q) if xs else 0.0


def end_to_end(w, *, setup_s: float, rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "events_per_s": sum(w.events) / (sum(w.batch_s) + sum(w.compact_s)),
        "batch_s_p50": percentile(w.batch_s, 0.5),
        "consumer_lag_s_p50": percentile(w.lag_s, 0.5),
        "point_read_s_p50": percentile(w.point_s, 0.5),
        "range_read_s_p50": percentile(w.range_s, 0.5),
        "peak_rss_mb": rss_mb,
    }


def pipeline_batches(w, tracer: Tracer) -> list[dict]:
    """Per-batch breakdown of every traced ``pipeline.batch``: wall, each
    layer's ``[self_s, jobs]``, merges, and Silver read amplification."""
    out = []
    batches = [i for i, s in enumerate(tracer.spans) if s.name == "pipeline.batch"]
    for n, b in enumerate(batches):
        desc = tracer.descendants(b)
        out.append({
            "wall_s": tracer.spans[b].dur,
            "layers": attribute(tracer, b, pipeline_layer),
            "merges": sum(1 for d in desc if tracer.spans[d].name == "merge"),
            "jobs": tracer.spans[b].jobs + sum(tracer.spans[d].jobs for d in desc),
            "steal_cpu_s": tracer.spans[b].steal_s,
            "silver_rows_in": w.silver_rows_in[n],
            "read_amp": w.silver_rows_in[n] / w.events[n],
        })
    return out


def per_layer(w, tracer: Tracer, *, bindings: int, timed_s: float, steal_s: float,
              written: int, space_amp: float) -> dict[str, float]:
    spans = tracer.spans

    def incl_jobs(i: int) -> int:
        return spans[i].jobs + sum(spans[d].jobs for d in tracer.descendants(i))

    def named(name: str) -> list[int]:
        return [i for i, s in enumerate(spans) if s.name == name]

    out: dict[str, float] = {}
    per_batch = pipeline_batches(w, tracer)
    nb = max(len(per_batch), 1)
    for k in ("wall_s", "jobs", "merges", "steal_cpu_s"):
        out[f"pipeline.batch.{k}"] = _mean(b[k] for b in per_batch)
    for k in PIPELINE_LAYERS:
        out[f"pipeline.{k}.wall_s"] = sum(b["layers"].get(k, [0.0, 0])[0] for b in per_batch) / nb
        out[f"pipeline.{k}.jobs"] = sum(b["layers"].get(k, [0.0, 0])[1] for b in per_batch) / nb
    out["pipeline.self.wall_s"] = sum(b["layers"]["self"][0] for b in per_batch) / nb
    out["pipeline.coverage_min"] = min((1.0 - b["layers"]["self"][0] / b["wall_s"] for b in per_batch), default=0.0)
    amp = [b["read_amp"] for b in per_batch]
    out["pipeline.silver.rows_in"] = _mean(b["silver_rows_in"] for b in per_batch)
    out["pipeline.read_amp"] = _mean(amp)
    out["pipeline.read_amp_growth"] = amp[-1] / amp[0] if amp else 0.0

    merges = named("merge")
    bronze = [i for i in merges if spans[i].attrs.get("batch_key", "").startswith("bronze:")]
    downstream = [spans[i].dur for i in merges if i not in set(bronze)]
    snaps_in_merge = sum(
        1 for i in named("table.snapshot") if any(spans[a].name == "merge" for a in tracer.ancestors(i))
    )
    out["merge.calls"] = len(merges) / max(len(w.batch_s), 1)
    out["merge.jobs_per_call"] = _mean(spans[i].jobs for i in merges)
    out["merge.downstream.wall_s_p50"] = _p(downstream, 0.5)
    out["table.snapshot.calls_per_merge"] = snaps_in_merge / len(merges) if merges else 0.0
    out["table.snapshot.wall_s"] = sum(spans[i].dur for i in named("table.snapshot")) / max(len(w.batch_s), 1)
    bronze_s = sum(spans[i].dur for i in bronze)
    out["merge.bronze.wall_s"] = _mean(spans[i].dur for i in bronze)
    out["merge.bronze.jobs"] = _mean(spans[i].jobs for i in bronze)
    out["merge.bronze.rows_per_s"] = sum(spans[i].result.events_in for i in bronze) / bronze_s if bronze else 0.0
    out["merge.bronze.steal_cpu_s"] = _mean(spans[i].steal_s for i in bronze)

    for name in ("compact", "ivm.sync", "relay.tick"):
        calls = named(name)
        out[f"{name}.wall_s"] = _mean(spans[i].dur for i in calls)
        out[f"{name}.steal_cpu_s"] = _mean(spans[i].steal_s for i in calls)
    out["compact.rows"] = _mean(spans[i].result for i in named("compact"))
    syncs, ticks = named("ivm.sync"), named("relay.tick")
    out["ivm.sync.jobs"] = _mean(incl_jobs(i) for i in syncs)
    out["ivm.sync.groups"] = _mean(spans[i].result["groups"] for i in syncs)
    out["relay.tick.jobs"] = _mean(incl_jobs(i) for i in ticks)
    out["relay.tick.rows"] = _mean(spans[i].result.rows for i in ticks)

    points = named("table.read_point")
    out["table.read_point.jobs"] = _mean(spans[i].jobs for i in points)
    out["table.read_point.files"] = _mean(w.read_files)
    out["table.read_point.wall_s_p90"] = _p(w.point_s, 0.9)
    out["table.read_point.samples"] = len(w.point_s)
    out["table.read_point.steal_cpu_s"] = _mean(spans[i].steal_s for i in points)
    out["table.read_range.files"] = _mean(w.range_files)
    out["table.tail_files"] = _mean(w.tails)
    out["table.write_bytes_per_event"] = written / sum(w.events)
    out["table.space_amp"] = space_amp

    out["batch.samples"] = len(w.batch_s)
    out["steal_cpu_s"] = steal_s
    out["trace.overhead_frac"] = tracer.overhead_s / timed_s
    out["trace.bindings"] = bindings
    out["ops_failed_frac"] = w.failed / w.attempted
    return out
