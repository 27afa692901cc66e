"""One benchmark run in a fresh process (started by ``run.py``).

Set-up (timed from process start as ``setup_s``): build the session on
``local[<cores>]``, then the workload's first read and first write
(``Workload.setup``). Then whole cycles of the workload run for ``--seconds``,
outputs are checked outside the timed region, and the result is
written as JSON for the launcher.

With ``--trace 1`` the harness records spans and harvests Spark's
status stores after every operation, and the result carries the
per-layer metrics of the first measured cycle instead of the
end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from spans import SPARK_METRICS, Harvester, Tracer
from workloads import CORPUS_E2E, CORPUS_QUERIES, WORKLOADS

# name → unit; the traced run reports every one of them
PER_LAYER = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "queries.build_s": "s",
    "queries.build_sql_execs": "count",
    "queries.build_sql_s": "s",
    **{
        f"queries.{q}.{part}": "s"
        for q in (CORPUS_E2E, *CORPUS_QUERIES)
        for part in ("build_s", "exec_s")
    },
    "spark.exec_s": "s",
    **SPARK_METRICS,
    "cache.release_s": "s",
    "cache.rdds_released": "count",
    "pipeline.sync_s": "s",
    "pipeline.sections_s": "s",
    "sources.fetch_normalize_s": "s",
    "commitlog.read_s": "s",
    "commitlog.update_s": "s",
    "commitlog.delete_s": "s",
    "commitlog.compact_s": "s",
    "commitlog.versions": "count",
    "commitlog.live_files": "count",
    "commitlog.files_written": "count",
    "commitlog.bytes_written": "bytes",
    "commitlog.live_bytes": "bytes",
    "commitlog.log_bytes": "bytes",
    "commitlog.write_amp": "ratio",
    "trace.min_coverage": "ratio",
    "trace.harvest_s": "s",
}
# span name → per-layer time metric (summed over the first cycle)
SPAN_TIMES = {
    "cache.release": "cache.release_s",
    "pipeline.sync": "pipeline.sync_s",
    "pipeline.sections": "pipeline.sections_s",
    "commitlog.read": "commitlog.read_s",
    "commitlog.update": "commitlog.update_s",
    "commitlog.delete": "commitlog.delete_s",
    "commitlog.compact": "commitlog.compact_s",
}


class Context:
    """What the workloads share: the session, inputs, tracer and the
    executions harvested so far (traced runs)."""

    def __init__(self, args, tracer: Tracer):
        from calorista_spark.queries import ORACLES, QUERIES

        self.seed = args.seed
        self.scratch = args.scratch
        self.data_dir = os.path.join(args.scratch, "tables")
        self.tracer = tracer
        self.queries = QUERIES
        self.oracles = ORACLES
        self.spark = None
        self.harvester: Harvester | None = None
        self.executions: list[dict] = []
        self.harvest_s = 0.0
        # set-up time spent checking outputs, not in the program
        self.untimed_setup_s = 0.0
        self._span_mark = 0

    def release_caches(self) -> int:
        from calorista_spark.cache import release_caches

        return release_caches(self.spark)

    def after_op(self) -> None:
        """Traced runs: harvest the executions the last operation ran
        and attribute each to the innermost span open at submission."""
        if self.harvester is None:
            return
        t0 = time.perf_counter()
        for ex in self.harvester.harvest():
            sp = self.tracer.innermost_at(ex["submitted_ms"], self._span_mark)
            ex["span"] = sp.index if sp is not None else None
            self.executions.append(ex)
        self._span_mark = len(self.tracer.spans)
        self.harvest_s += time.perf_counter() - t0


def layer_metrics(ctx: Context, workload) -> dict:
    """Per-layer figures of the first measured cycle (cycle 0)."""
    tr = ctx.tracer
    m = {name: 0.0 for name in PER_LAYER}
    m["session.build_s"] = tr.total("session.build")
    m["session.warmup_s"] = tr.total("session.warmup")
    # runs outside every op (store_ingest, first cycle only)
    m["sources.fetch_normalize_s"] = tr.total("sources.fetch_normalize")
    m["trace.harvest_s"] = ctx.harvest_s

    coverage = []
    in_cycle: set[int] = set()
    for op in workload.ops:
        if op.cycle < 0:
            continue
        kids = [s for s in tr.descendants(op.span) if s.parent == op.span.index]
        coverage.append(sum(s.seconds for s in kids) / op.wall_s)
        if op.cycle == 0:
            in_cycle.add(op.span.index)
            in_cycle.update(s.index for s in tr.descendants(op.span))
    m["trace.min_coverage"] = min(coverage)

    for idx in sorted(in_cycle):
        sp = tr.spans[idx]
        if sp.name in SPAN_TIMES:
            m[SPAN_TIMES[sp.name]] += sp.seconds
        if sp.name == "cache.release":
            m["cache.rdds_released"] += sp.attrs.get("rdds", 0)

    by_span: dict[int, list[dict]] = {}
    for ex in ctx.executions:
        if ex["span"] in in_cycle:
            by_span.setdefault(ex["span"], []).append(ex)

    def dur(ex) -> float:
        return (ex["completed_ms"] - ex["submitted_ms"]) / 1000.0

    actions: list[dict] = []
    for idx in sorted(in_cycle):
        sp = tr.spans[idx]
        execs = by_span.get(idx, [])
        for ex in execs:
            m["spark.python_s"] += ex.get("spark.python_s", 0.0)
        if sp.name != "queries.build":
            actions.extend(execs)
            if sp.name == "spark.exec":
                m["spark.exec_s"] += sp.seconds
                if sp.attrs.get("query") in CORPUS_QUERIES:
                    m[f"queries.{sp.attrs['query']}.exec_s"] += sp.seconds
            continue
        build_s, builds = sp.seconds, execs
        if sp.attrs.get("whole_call") and execs:
            final = max(execs, key=lambda ex: ex["submitted_ms"])
            builds = [ex for ex in execs if ex is not final]
            actions.append(final)
            build_s -= dur(final)
            m["spark.exec_s"] += dur(final)
            m[f"queries.{sp.attrs['query']}.exec_s"] += dur(final)
        m["queries.build_s"] += build_s
        m["queries.build_sql_execs"] += len(builds)
        m["queries.build_sql_s"] += sum(dur(ex) for ex in builds)
        if sp.attrs["query"] in (CORPUS_E2E, *CORPUS_QUERIES):
            m[f"queries.{sp.attrs['query']}.build_s"] += build_s

    for ex in actions:
        for name in SPARK_METRICS:
            if name != "spark.python_s":
                m[name] += ex.get(name, 0.0)
    m.update(workload.layer_stats())
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args(argv)

    from calorista_spark.cache import cached_rdd_count
    from calorista_spark.session import build_session

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(args, tracer)
    workload = WORKLOADS[args.workload](ctx)

    cores = len(os.sched_getaffinity(0))
    with tracer.span("session.build"):
        ctx.spark = spark = build_session(app_name="perfbench", master=f"local[{cores}]")
        spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("session.warmup"):
        workload.setup()
    setup_s = time.time() - args.spawned_at - ctx.untimed_setup_s
    if args.trace:
        ctx.harvester = Harvester(spark)

    t0 = time.perf_counter()
    cycles = 0
    while True:
        workload.cycle(cycles)
        cycles += 1
        elapsed = time.perf_counter() - t0
        if elapsed * (cycles + 1) / cycles > args.seconds:
            break

    t_check = time.perf_counter()
    workload.check()
    ctx.release_caches()
    leaked = cached_rdd_count(spark)
    if leaked:
        workload.failures.append(f"{leaked} cached RDDs left at the end of the run")

    measured = [o for o in workload.ops if o.cycle >= 0]
    e2e = workload.end_to_end(elapsed)
    e2e["setup_s"] = (setup_s, "s", 1)
    for name, (value, unit, n) in sorted(e2e.items()):
        print(f"{name} = {value:.6g} {unit} (samples: {n})")
    print(
        f"measured {elapsed:.3f} s over {cycles} cycle(s), {len(measured)} ops;"
        f" checks took {time.perf_counter() - t_check:.1f} s"
    )
    for op in measured:
        print(f"op cycle={op.cycle} {op.name} {op.wall_s:.4f} s{'' if op.ok else ' FAILED'}")
    for why in workload.failures:
        print(f"FAILED {why}")
    if args.trace:
        layers = layer_metrics(ctx, workload)
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    result = {
        "correct": not workload.failures,
        "attempted": len(measured),
        "failed": sum(not o.ok for o in measured),
        "metrics": metrics,
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
