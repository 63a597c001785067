"""Per-layer metrics of a traced run: Spark event-log counters and layer
spans, summed over the timed ops and divided by the number of timed
passes."""

from __future__ import annotations

import json
import os
import statistics

from perfbench import eventlog
from perfbench.metrics import PER_LAYER
from perfbench.tracing import Tracer, self_times


def per_layer(tracer: Tracer, samples, pass_times, log_dir: str, cores: int) -> dict:
    passes = len(pass_times)
    timed = [s for s in samples if s.pass_no >= 0]
    windows = [eventlog.Window((s.pass_no, i), *s.window) for i, s in enumerate(timed)]
    by_op, unattributed = eventlog.attribute(eventlog.events(log_dir), windows)

    totals: dict[str, float] = {name: 0.0 for name, *_ in PER_LAYER}
    for m in by_op.values():
        for name, value in m.counters.items():
            totals[name] += value
    totals["queries.build_s"] = sum(s.build_s for s in timed)
    totals["queries.exec_s"] = sum(s.total_s - s.build_s for s in timed)

    spans = tracer.spans
    own = self_times(spans)
    for span, self_s in zip(spans, own):
        if span.op is None or span.op[0] < 0 or f"{span.layer}.calls" not in totals:
            continue  # outside the timed passes, or a layer without metrics
        totals[f"{span.layer}.calls"] += 1
        totals[f"{span.layer}.self_s"] += self_s

    out = {name: value / passes for name, value in totals.items()}
    out["spark.slot_util"] = totals["spark.executor_run_s"] / (sum(pass_times) * cores)
    out["trace.pass_s"] = statistics.median(pass_times)
    out["unattributed_jobs"] = unattributed  # a check of the attribution, not a metric
    return out


def write_samples(path: str, samples, tracer: Tracer | None = None) -> None:
    """Every op sample (warm-up ones have pass -1) and, when traced,
    every span with its self time; one JSON object per line."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        for s in samples:
            fh.write(json.dumps({"op": s.name, "pass": s.pass_no, "build_s": s.build_s,
                                 "total_s": s.total_s, "ok": s.ok,
                                 "window_ms": s.window}) + "\n")
        if tracer is not None:
            for span, self_s in zip(tracer.spans, self_times(tracer.spans)):
                fh.write(json.dumps({**span.as_dict(), "self_s": self_s}) + "\n")

