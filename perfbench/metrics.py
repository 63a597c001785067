"""The benchmark's metrics: names, units, and — for the per-layer ones
— the end-to-end metric and workload each is expected to move.

``BENCHMARK.json`` lists the same names; ``perfbench/tests`` checks
that the two agree.
"""

from __future__ import annotations

import json
import os

from perfbench.tracing import LAYERS

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json"),
          encoding="utf-8") as _fh:
    _LISTED = set().union(*(w["layers"] for w in json.load(_fh)["workloads"].values()))
#: The layers some workload's ops reach (``layers`` in
#: ``perfbench/workloads.json``), in :data:`LAYERS` order: the layers
#: with per-layer metrics. The other wrapped layers are left out, as
#: their metrics would read 0 on every workload.
MEASURED_LAYERS = tuple(layer for layer in LAYERS if layer in _LISTED)

#: (name, unit, better) of every end-to-end metric (``--trace 0``).
END_TO_END = (
    ("pass_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("op_tail_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("disk_peak_mb", "MB", "lower"),
    ("setup_s", "s", "lower"),
)

_BI_P50 = "op_p50_s on bi_read"
_WRITE = "op_p50_s and pass_s on curation_write"
_PY = "pass_s on curation_write (zero on bi_read)"
_SHUFFLE = "op_tail_s on curation_write and on bi_read's join_grouping ops"
_SCAN = "pass_s on bi_read"

#: (name, unit, better, prediction) of every per-layer metric
#: (``--trace 1``). Values are per timed pass unless the unit is a
#: ratio. Left out, as they read 0 on both workloads: the state-store
#: metrics (no picked op runs stateful streaming), Python worker start
#: time, spill bytes, and the catalog's commit ratio (no picked op
#: calls ``Catalog.promote_version``).
PER_LAYER = (
    ("queries.build_s", "s", "lower", _BI_P50),
    ("queries.exec_s", "s", "lower", _BI_P50),
    ("spark.jobs", "count", "lower", _BI_P50),
    ("spark.stages", "count", "lower", _BI_P50),
    ("spark.tasks", "count", "lower", _BI_P50),
    ("queries.build_jobs", "count", "lower", _WRITE),
    ("streaming.batches", "count", "lower", _WRITE),
    ("spark.task_commit_s", "s", "lower", _WRITE),
    ("python.bytes_sent", "bytes", "lower", _PY),
    ("python.bytes_returned", "bytes", "lower", _PY),
    ("python.run_s", "s", "lower", _PY),
    ("spark.shuffle_write_bytes", "bytes", "lower", _SHUFFLE),
    ("spark.shuffle_read_bytes", "bytes", "lower", _SHUFFLE),
    ("spark.fetch_wait_s", "s", "lower", _SHUFFLE),
    ("spark.gc_s", "s", "lower", "op_tail_s and peak_rss_mb on curation_write"),
    ("spark.input_bytes", "bytes", "lower", _SCAN),
    ("spark.slot_util", "ratio", "higher", _SCAN),
    ("spark.executor_run_s", "s", "lower", _SCAN),
    ("spark.executor_cpu_s", "s", "lower", _SCAN),
    ("spark.output_bytes", "bytes", "lower", "disk_peak_mb on curation_write"),
    *(
        (f"{layer}.{what}", unit, "lower", "pass_s of the workloads that call it")
        for layer in MEASURED_LAYERS
        for what, unit in (("calls", "count"), ("self_s", "s"))
    ),
    ("trace.pass_s", "s", "lower",
     "none: traced pass wall time; minus untraced pass_s = tracing overhead"),
)
