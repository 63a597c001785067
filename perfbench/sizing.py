"""Sizing pass: measure every registered query once cold and twice
warm, record whether it stages files, the layers its warm runs reach
and the process caches it fills, check it against its oracle, and pick
the workloads' op lists from the measurement by the rule in
:func:`select`.

    python3 -m perfbench.sizing [--seed 1]
    python3 -m perfbench.sizing --rows perfbench/sizing-seed1.json

Run from the repository root; measuring takes about 15 minutes on a
4-CPU host. The environment is the benchmark launcher's, with scratch
under ``.perfbench_run/sizing-<pid>/``, removed afterwards. The layer
spans (:mod:`perfbench.tracing`) wrap ``staging.staging_dir`` too, so
an op "stages files" when a ``staging_dir`` span opens while it runs:
this is the classification pass that puts relational queries into
``curation_write``.

The measured rows are written to ``.perfbench_out/sizing-seed<N>.json``;
``perfbench/sizing-seed1.json`` holds the rows the op lists were picked
from. Printed: how the picked mix compares with its candidates, then
each workload's op list and the layers its ops reach, which
``perfbench/workloads.json`` freezes.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import sys

from perfbench.run import pinned_env
from perfbench.tracing import LAYERS, PACKAGE

MODULES = (
    "relational", "analytics", "window_analytics", "join_grouping",
    "governance_queries", "cdc_queries", "event_queries", "llm_queries",
)
#: Modules whose read-only ops make up ``bi_read``.
READ_MODULES = frozenset(MODULES[:5])
#: Modules whose ops all belong to ``curation_write``; relational ops
#: that stage files join them.
WRITE_MODULES = frozenset(("cdc_queries", "event_queries", "llm_queries"))
STAGING_DIR = "olist_lakehouse_2_0_spark.staging.staging_dir"
#: Process caches a warm-up pass should fill, by module under the
#: package; an op fills one when its runs add entries to it.
CACHES = {
    "queries.llm_queries": ("_IVF_INDEX_CACHE", "_MINHASH_INDEX_CACHE",
                            "_COARSE_CENTROID_CACHE", "_CORPUS_COUNT_CACHE"),
    "deletion_vectors": ("_CARDINALITY_CACHE", "_DECODE_CACHE", "_BROADCAST_CACHE"),
}
#: Summed warm latency, in seconds of this pass, that a workload's ops
#: may take. The benchmark's 4 + 22 x 2 runs must end within 3420 s. On
#: a 4-CPU host a run costs about 12 s (process, session, stop), a cold
#: warm-up pass, and timed passes whose ops run about twice as long as
#: here (this pass's JVM has run every query before). These budgets gave
#: runs of about 45 s (bi_read) and 75 s (curation_write).
PASS_BUDGET_S = {"bi_read": 4.0, "curation_write": 7.5}


def workload_of(row: dict) -> str | None:
    if row["module"] in WRITE_MODULES or (row["module"] == "relational" and row["stages"]):
        return "curation_write"
    if row["module"] in READ_MODULES and not row["stages"]:
        return "bi_read"
    return None


def weight(item: str) -> int:
    """Per-layer metrics an item feeds: a layer's ``calls`` and
    ``self_s`` (plus the state-store metrics, which only stateful
    streaming reports); a process cache feeds ``setup_s`` alone."""
    if item.startswith("cache "):
        return 1
    return 2 + 3 * (item == "streaming.stateful")


def items(row: dict) -> set[str]:
    """The layers an op's warm runs reach and the caches it fills."""
    return set(row["layers"]) | {f"cache {c}" for c in row["fills"]}


def select(rows: list[dict]) -> dict[str, list[str]]:
    """The op list of each workload, from the sizing rows.

    Candidates are the workload's ops that match their oracle. No step
    but the last adds an op that would take the workload's summed warm
    latency past its :data:`PASS_BUDGET_S`. Four steps, each
    deterministic, ties broken by the lower name:

    1. Cover. While some candidate that fits brings :func:`items` no
       picked op has, pick the one whose new items have the most
       :func:`weight` per second of warm latency; then drop, slowest
       first, each picked op whose items the other picked ops all have.
    2. Latency strata. Each quartile of the candidates' warm latency
       that no picked op falls in gets its candidate closest to the
       quartile's median, if that one fits.
    3. Module strata. Each module of the workload that no picked op
       comes from gets its candidate closest to the module's median
       warm latency, if that one fits.
    4. Fill. When the picked ops need exactly three timed passes for
       ``MIN_SAMPLES`` op samples, add the fastest candidates left
       until two passes suffice: a few short ops cost a run less than
       a third pass.
    """
    from perfbench.runner import MIN_SAMPLES

    picked: dict[str, list[str]] = {}
    for workload, budget in PASS_BUDGET_S.items():
        cands = [r for r in rows if workload_of(r) == workload and r["oracle_ok"]]
        chosen: list[dict] = []

        def fits(r: dict) -> bool:
            return r not in chosen and sum(c["warm_s"] for c in chosen) + r["warm_s"] <= budget

        have: set[str] = set()
        while options := [r for r in cands if items(r) - have and fits(r)]:
            best = min(options, key=lambda r: (
                -sum(map(weight, items(r) - have)) / r["warm_s"], r["name"]))
            chosen.append(best)
            have |= items(best)
        for r in sorted(chosen, key=lambda r: (-r["warm_s"], r["name"])):
            others = [o for o in chosen if o is not r]
            if items(r) <= set().union(*map(items, others)):
                chosen = others
        ranked = sorted(cands, key=lambda r: (r["warm_s"], r["name"]))
        strata = [ranked[len(ranked) * q // 4:len(ranked) * (q + 1) // 4] for q in range(4)]
        strata += [[r for r in cands if r["module"] == m] for m in sorted({r["module"] for r in cands})]
        for stratum in strata:
            if not stratum or any(r in chosen for r in stratum):
                continue
            mid = statistics.median(r["warm_s"] for r in stratum)
            typical = min(stratum, key=lambda r: (abs(r["warm_s"] - mid), r["name"]))
            if fits(typical):
                chosen.append(typical)
        if 3 * len(chosen) >= MIN_SAMPLES:  # a third pass would be needed
            for r in ranked:
                if 2 * len(chosen) >= MIN_SAMPLES:
                    break
                if r not in chosen:
                    chosen.append(r)
        picked[workload] = [r["name"] for r in chosen]
    return picked


def describe(rows: list[dict], picked: dict[str, list[str]]) -> str:
    """Per workload: candidates and picked ops, their median warm
    latency and build share, and the layers each set reaches."""
    lines = []
    by_name = {r["name"]: r for r in rows}
    for workload, names in picked.items():
        for label, group in (
            ("candidates", [r for r in rows if workload_of(r) == workload and r["oracle_ok"]]),
            ("picked", [by_name[n] for n in names]),
        ):
            lines.append(
                f"{workload} {label}: {len(group)} ops, warm median"
                f" {statistics.median(r['warm_s'] for r in group):.3f} s, p90"
                f" {sorted(r['warm_s'] for r in group)[int(0.9 * (len(group) - 1))]:.3f} s,"
                f" build share {sum(r['build_s'] for r in group) / sum(r['warm_s'] for r in group):.2f},"
                f" sum {sum(r['warm_s'] for r in group):.2f} s,"
                f" layers {len(set().union(*(r['layers'] for r in group)))}")
        for n in names:
            r = by_name[n]
            lines.append(f"  {n:40s} {r['module']:18s} warm {r['warm_s']:.3f} s"
                         f" build {r['build_s'] / r['warm_s']:.2f}"
                         f" {','.join(r['layers'] + r['fills'])}")
    names = [n for ns in picked.values() for n in ns]
    for what, every in (("layers", LAYERS), ("fills", [f"{m}.{c}" for m, cs in CACHES.items()
                                                       for c in cs])):
        missed = set(every) - set().union(*(by_name[n][what] for n in names))
        lines.append(f"{what} no picked op has: {sorted(missed)}")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rows", default=None,
                    help="pick from the rows an earlier pass wrote instead of measuring")
    args = ap.parse_args()
    if args.rows:
        with open(args.rows, encoding="utf-8") as fh:
            return _report(json.load(fh))
    out = os.path.join(".perfbench_out", f"sizing-seed{args.seed}.json")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # still clean up
    root = os.path.join(os.getcwd(), ".perfbench_run", f"sizing-{os.getpid()}")
    os.environ.update(pinned_env(os.getcwd(), root))  # before the JVM starts
    try:
        rows = _measure(args.seed, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass  # a benchmark run's root is still there
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w", encoding="utf-8") as fh:
        json.dump(rows, fh, indent=1)
    return _report(rows)


def _report(rows: list[dict]) -> int:
    picked = select(rows)
    print(describe(rows, picked))
    by_name = {r["name"]: r for r in rows}
    print(json.dumps({w: {"ops": names,
                          "layers": sorted(set().union(*(by_name[n]["layers"] for n in names)))}
                      for w, names in picked.items()}, indent=1))
    return 0


def _measure(seed: int, root: str) -> list[dict]:
    from perfbench import datagen, tracing
    from perfbench.runner import run_op

    tracer = tracing.Tracer()
    tracing.instrument(tracer)  # before the query modules import the layers
    from olist_lakehouse_2_0_spark import get_spark
    from olist_lakehouse_2_0_spark.queries import all_oracles, all_queries
    from tests.oracle_utils import assert_parity

    data_dir = datagen.write(seed, os.path.join(root, "data"))
    spark = get_spark(app_name="perfbench-sizing", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
    })
    registry, oracles = all_queries(), all_oracles()
    module_of = {}
    for mod_name in MODULES:
        mod = importlib.import_module(f"{PACKAGE}.queries.{mod_name}")
        queries = next(v for k, v in vars(mod).items()
                       if k.endswith("_QUERIES") and isinstance(v, dict))
        module_of.update(dict.fromkeys(queries, mod_name))
    caches = {f"{mod}.{attr}": getattr(importlib.import_module(f"{PACKAGE}.{mod}"), attr)
              for mod, attrs in CACHES.items() for attr in attrs}
    rows = []
    try:
        for name in registry:  # registry order: the order the engine's suite runs
            first = len(tracer.spans)
            sizes = {c: len(d) for c, d in caches.items()}
            samples = [run_op(spark, registry[name], data_dir, i, name, tracer)
                       for i in range(3)]
            spans = tracer.spans[first:]
            warm = samples[1:]
            try:
                assert_parity(registry[name](spark, data_dir), oracles[name], data_dir, name)
                oracle_ok = True
            except Exception as exc:  # noqa: BLE001 - any failure is a mismatch
                oracle_ok = False
                print(f"oracle {name}: {exc}"[:400], file=sys.stderr)
            spark.catalog.clearCache()
            rows.append({
                "name": name,
                "module": module_of[name],
                "ok": all(s.ok for s in samples),
                "oracle_ok": oracle_ok and all(s.ok for s in samples),
                "cold_s": samples[0].total_s,
                "warm_s": statistics.median(s.total_s for s in warm),
                "build_s": statistics.median(s.build_s for s in warm),
                "stages": any(s.name == STAGING_DIR for s in spans),
                # A layer only the cold run calls (a cache filling) is
                # not measured by timed passes.
                "layers": sorted({s.layer for s in spans if s.op[0] > 0}),
                "fills": sorted(c for c, d in caches.items() if len(d) > sizes[c]),
            })
            print(json.dumps(rows[-1]), file=sys.stderr, flush=True)
    finally:
        spark.stop()
    return rows


if __name__ == "__main__":
    sys.exit(main())
