"""One benchmark run in one process: set up, time, check, report.

Started by ``perfbench/run.py`` (which pins the environment and owns
the run's scratch root); not meant to be run directly.

A run:

1. writes the seeded input tables (not timed);
2. set-up (``setup_s``): starts the session, then one untimed warm-up
   pass over the workload's ops, which fills the engine's process
   caches they use and collects each op's output (``toPandas()`` in
   place of the ``noop`` sink) for step 4;
3. timed passes, one client in a closed loop: each op is the query
   function (build) plus its final action to the ``noop`` sink. The
   number of passes, :func:`timed_passes`, is fixed from ``--seconds``
   before timing starts. The harness forces no garbage collection:
   with a full JVM GC between passes, curation_write's pass_s was
   10-26 % higher in three of four paired runs. Every sample is kept
   (``.perfbench_out/``); an op that raises is a failed sample and the
   pass goes on;
4. one oracle check per op, outside ``setup_s`` and the timed passes:
   the collected output against the op's DuckDB SQL, with the
   engine's parity harness (``tests/oracle_utils.assert_parity``); a
   mismatch fails every sample of that op;
5. with ``--trace 1``, per-layer metrics from the Spark event log and
   the layer spans. The run fails if a layer the workload's ops are
   listed to reach (``layers`` in ``perfbench/workloads.json``) was
   not called in the timed passes.

End-to-end metrics: ``pass_s`` is the median over timed passes of the
summed op latencies (the harness's work between ops — cache clearing,
disk and memory readings — is left out); ``op_p50_s`` and ``op_tail_s``
are taken over every timed op sample, the tail at the percentile
:func:`perfbench.stats.tail` picks from the planned sample count;
``peak_rss_mb`` is the JVM's plus the Python workers' peak resident
memory; ``disk_peak_mb`` is the median over timed passes of the pass's
largest :class:`perfbench.sysmon.ScratchDisk` reading after an op: the
bytes under the run's ``TMPDIR`` and ``SPARK_LOCAL_DIRS`` (staging
copies, checkpoints, state stores) plus that op's shuffle files.

The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import statistics
import sys
import time
import traceback

from perfbench import datagen, layers, stats, sysmon
from perfbench.metrics import END_TO_END, PER_LAYER

HERE = os.path.dirname(os.path.abspath(__file__))
#: Least number of timed op samples in a run: the fewest whose tail
#: (:func:`perfbench.stats.tail_percentile`) lies above the median, p60.
MIN_SAMPLES = 25


class Sample:
    __slots__ = ("name", "pass_no", "build_s", "total_s", "ok", "window", "output")

    def __init__(self, name, pass_no, build_s, total_s, ok, window, output=None):
        self.name, self.pass_no = name, pass_no
        self.build_s, self.total_s, self.ok = build_s, total_s, ok
        self.window = window  # (start, build_end, end) in epoch ms
        self.output = output  # the collected rows, when the op was collected


class Collected:
    """An op's collected output in the shape ``assert_parity`` reads."""

    def __init__(self, pdf):
        self.pdf, self.columns = pdf, list(pdf.columns)

    def toPandas(self):
        return self.pdf


def load_workload(name: str) -> dict:
    with open(os.path.join(HERE, "workloads.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    if name not in spec["workloads"]:
        raise SystemExit(f"unknown workload {name!r}; have {sorted(spec['workloads'])}")
    return spec["workloads"][name]


def planned_passes(n_ops: int) -> int:
    """Timed passes every run makes at least: enough for
    :data:`MIN_SAMPLES`. Passes x ops is the planned sample count that
    fixes the ``op_tail_s`` percentile."""
    return -(-MIN_SAMPLES // n_ops)


def timed_passes(spec: dict, seconds: float) -> int:
    """Timed passes of a run: as many as fill ``seconds`` at the
    workload's recorded warm pass time (``warm_pass_s``), and at least
    :func:`planned_passes`. The count does not depend on this run's
    speed: a time-bound loop cuts runs made in a slow spell of a shared
    host to fewer passes, and the passes it drops are the warmest, so a
    slow spell would weigh twice."""
    return max(planned_passes(len(spec["ops"])), round(seconds / spec["warm_pass_s"]))


def run_op(spark, fn, data_dir: str, pass_no: int, name: str, tracer=None,
           collect: bool = False) -> Sample:
    """Build the op and run its final action: the ``noop`` sink, or
    ``toPandas()`` when ``collect`` (the output is kept on the sample)."""
    if tracer is not None:
        tracer.op = [pass_no, name]
    ok, output = True, None
    t0, w0 = time.perf_counter(), time.time()
    t1, w1 = t0, w0
    try:
        df = fn(spark, data_dir)
        t1, w1 = time.perf_counter(), time.time()
        if collect:
            output = Collected(df.toPandas())
        else:
            df.write.format("noop").mode("overwrite").save()
    except Exception:  # a failed op is a sample; the pass goes on
        ok = False
        print(f"op {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
    t2, w2 = time.perf_counter(), time.time()
    if tracer is not None:
        tracer.op = None
    # Blocks an op persisted must not speed up the next op.
    spark.catalog.clearCache()
    return Sample(name, pass_no, t1 - t0, t2 - t0, ok,
                  (w0 * 1e3, w1 * 1e3, w2 * 1e3), output)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-root", required=True)
    args = ap.parse_args(argv)
    # Results go to the original stdout; anything else written to fd 1
    # (the JVM and Python workers inherit it) joins the log on stderr.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    spec = load_workload(args.workload)
    ops = spec["ops"]
    min_passes = planned_passes(len(ops))
    n_passes = timed_passes(spec, args.seconds)
    root = args.run_root
    t_start = time.perf_counter()
    data_dir = datagen.write(args.seed, os.path.join(root, "data"))
    conf = {
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
    }

    tracer = None
    if args.trace:
        from perfbench import tracing

        tracer = tracing.Tracer()
        tracing.instrument(tracer)
        log_dir = os.path.join(root, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # Spark 4 defaults to zstd and may roll; one plain file instead.
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    # ---- set-up: engine import + session start + warm-up pass ----
    t_setup = time.perf_counter()
    from olist_lakehouse_2_0_spark import get_spark
    from olist_lakehouse_2_0_spark.queries import all_oracles, all_queries

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    registry = all_queries()
    oracles = all_oracles()
    missing = [op for op in ops if op not in registry or op not in oracles]
    if missing:
        raise SystemExit(f"ops without a query or oracle: {missing}")
    session_s = time.perf_counter() - t_setup
    # Collecting in the warm-up spares the oracle check a run of every
    # op, which a run's time budget has no room for.
    warm = [run_op(spark, registry[op], data_dir, -1, op, tracer, collect=True)
            for op in ops]
    setup_s = time.perf_counter() - t_setup

    # ---- timed closed loop ----
    mem = sysmon.EngineMemory()
    disk = sysmon.ScratchDisk(os.environ["TMPDIR"], os.environ["SPARK_LOCAL_DIRS"])
    disk.read()  # shuffles of the warm-up pass are not the first op's
    disk_peaks: list[int] = []
    samples: list[Sample] = []
    pass_times: list[float] = []
    t_loop = time.perf_counter()
    for pass_no in range(n_passes):
        pass_s, disk_peak = 0.0, 0
        for op in ops:
            s = run_op(spark, registry[op], data_dir, pass_no, op, tracer)
            samples.append(s)
            pass_s += s.total_s
            disk_peak = max(disk_peak, disk.read())
        mem.sample()
        pass_times.append(pass_s)
        disk_peaks.append(disk_peak)
    loop_s = time.perf_counter() - t_loop

    # ---- oracle check, once per op ----
    from tests.oracle_utils import assert_parity

    t_oracle = time.perf_counter()
    mismatched: dict[str, str] = {}
    for s in warm:
        try:
            if s.output is None:
                raise AssertionError("raised in the warm-up pass")
            assert_parity(s.output, oracles[s.name], data_dir, s.name)
        except AssertionError as exc:
            mismatched[s.name] = str(exc)
        except Exception:
            mismatched[s.name] = "raised: " + traceback.format_exc(limit=3)
    oracle_s = time.perf_counter() - t_oracle
    spark.stop()  # also completes the event log

    attempted = len(samples)
    failed = stats.count_failed([(s.name, s.ok) for s in samples], set(mismatched))
    say = functools.partial(print, file=out)
    say(f"workload {args.workload}  seed {args.seed}  passes {len(pass_times)}"
        f"  trace {args.trace}  phases: inputs {t_setup - t_start:.1f} s, set-up"
        f" {setup_s:.1f} s, timed loop {loop_s:.1f} s, oracle {oracle_s:.1f} s")
    say(f"fail_rate {stats.fail_rate(attempted, failed)!r} ratio  ({failed} failed of"
        f" {attempted} attempted; oracle mismatches {len(mismatched)} of {len(ops)} ops;"
        f" warm-up failures {sum(not s.ok for s in warm)})")
    per_op = {op: statistics.median([s.total_s for s in samples if s.name == op]) for op in ops}
    say("op medians (s): " + ", ".join(f"{op} {t:.3f}" for op, t in per_op.items()))
    for op, diff in mismatched.items():
        say(f"oracle mismatch {op}: {diff[:500]}")

    if args.trace:
        values = layers.per_layer(
            tracer, samples, pass_times, os.path.join(root, "eventlog"),
            cores=int(os.environ["SPARK_GRAFT_CPUS"]),
        )
        say(f"jobs submitted in the timed loop outside every op window:"
            f" {values.pop('unattributed_jobs'):g}")
        for name, unit, _better, moves in PER_LAYER:
            say(f"  {name:34s} {values[name]!r:>24} {unit:6s} moves {moves}")
        unreached = [layer for layer in spec["layers"] if not values[f"{layer}.calls"]]
        if unreached:
            print(f"perfbench: layers listed for {args.workload} were not called"
                  f" in the timed passes: {unreached}", file=sys.stderr)
            return 1
    else:
        lat = [s.total_s for s in samples]
        tail_pct, tail_s = stats.tail(lat, min_passes * len(ops))
        values = {
            "pass_s": statistics.median(pass_times),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_s,
            "peak_rss_mb": mem.peak_mb,
            "disk_peak_mb": statistics.median(disk_peaks) / 2**20,
            "setup_s": setup_s,
        }
        notes = {
            "op_tail_s": f"p{tail_pct:g} of {attempted} op samples",
            "pass_s": f"median of {len(pass_times)} passes of {len(ops)} ops",
            "setup_s": f"session start {session_s:.3f} s + warm-up pass",
        }
        for name, unit, _better in END_TO_END:
            note = f"  ({notes[name]})" if name in notes else ""
            say(f"  {name:14s} {values[name]!r:>22} {unit}{note}")

    layers.write_samples(
        os.path.join(".perfbench_out",
                     f"{args.workload}-seed{args.seed}-trace{args.trace}.jsonl"),
        warm + samples, tracer)
    units = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    say(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
