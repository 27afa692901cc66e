"""The three benchmark workloads.

Each workload is one closed-loop client: it issues an operation, waits
for it, then issues the next. Operations are grouped into cycles; the
worker runs whole cycles until the next one would end past the
``--seconds`` budget (the first cycle always runs).

Every call the harness makes into a public function of the package is
wrapped in a span, parented by the operation's ``op`` span. Spark
executions are attributed to the innermost span open when Spark
submitted them: executions inside a ``queries.build`` span ran before
the query function returned; the rest belong to the operation's
actions.

Each workload reports the same two end-to-end figures, measured on its
own unit of work:

- ``op_p50_s``: median latency of the unit operation;
- ``units_per_s``: input units completed per second.
"""

from __future__ import annotations

import datetime
import os
import random
import statistics
import time
import traceback

import pyarrow.parquet as pq

# Tier-A dashboard sections plus TPC-H-style join/aggregate queries.
# None evaluates Python UDFs or touches the commit-log store.
DASHBOARD_QUERIES = (
    "daily_totals",
    "weekly_trends",
    "monthly_trends",
    "latest_day_summary",
    "range_summary",
    "distinct_order_dates",
    "top_parts_by_price",
    "forecast_revenue_q6",
    "priority_lines_q12",
    "promo_revenue_q14",
)
# The composed pretraining-data job, then registered corpus queries
# whose DuckDB oracles are cheap enough to check on every run.
CORPUS_E2E = "run_corpus_e2e"
CORPUS_QUERIES = (
    "doc_neardup_components",
    "doc_lm_quality_score",
    "embedding_topk_ivf",
)


class Op:
    """One client operation."""

    __slots__ = ("kind", "name", "cycle", "wall_s", "ok", "span", "units")

    def __init__(self, kind: str, name: str, cycle: int, units: int):
        self.kind = kind
        self.name = name
        self.cycle = cycle
        self.units = units
        self.wall_s = 0.0
        self.ok = True
        self.span = None


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def first_write(ctx) -> None:
    ctx.spark.range(1000).write.parquet(os.path.join(ctx.scratch, "first_write"))


def collect_rows(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def oracle_mismatch(cols: list[str], rows: list[tuple], oracle_sql: str, data_dir: str) -> str | None:
    """None when Spark's rows equal the DuckDB oracle's after the
    repository's normalization (tests/oracle_compare); else why not."""
    from tests.oracle_compare import _norm_rows, run_oracle

    try:
        o_cols, o_rows = run_oracle(oracle_sql, data_dir)
    except Exception as exc:  # noqa: BLE001
        return f"oracle failed: {type(exc).__name__}: {exc}"
    if sorted(cols) != sorted(o_cols):
        return f"columns {sorted(cols)} != oracle {sorted(o_cols)}"
    if len(rows) != len(o_rows):
        return f"{len(rows)} rows != oracle {len(o_rows)}"
    if _norm_rows(cols, rows) != _norm_rows(o_cols, o_rows):
        return "values differ from the DuckDB oracle"
    return None


class Workload:
    """Base class: the worker calls setup, cycle (repeatedly), check,
    then end_to_end."""

    name = ""
    # generated catalog tables scale (datagen.generate's sf)
    table_sf = 0.01

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops: list[Op] = []
        self.failures: list[str] = []

    def setup(self) -> None:
        """The workload's first read and first write."""
        raise NotImplementedError

    def cycle(self, index: int) -> None:
        raise NotImplementedError

    def check(self) -> None:
        """Compare outputs with their oracles, recording mismatches in
        ``failures`` and marking the ops that produced them failed."""

    def end_to_end(self, wall_s: float) -> dict:
        """name → (value, unit, samples)."""
        raise NotImplementedError

    def layer_stats(self) -> dict:
        """Workload-specific per-layer figures (traced runs)."""
        return {}

    def op(self, kind: str, name: str, cycle: int, fn, units: int = 0):
        """Run ``fn`` as one timed operation; a raised error fails the
        op but not the run."""
        op = Op(kind, name, cycle, units)
        result = None
        t0 = time.perf_counter()
        with self.ctx.tracer.span("op", kind=kind, op=name) as sp:
            try:
                result = fn()
            except Exception as exc:  # noqa: BLE001 — counted as a failed op
                traceback.print_exc()
                op.ok = False
                self.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
        op.wall_s = time.perf_counter() - t0
        op.span = sp
        self.ops.append(op)
        self.ctx.after_op()
        return result

    def query_op(self, name: str, cycle: int, build, action):
        """Build a query's DataFrame, run its action, then release the
        caches the query pinned."""
        tracer = self.ctx.tracer

        def run():
            with tracer.span("queries.build", query=name):
                df = build()
            with tracer.span("spark.exec", query=name):
                out = action(df)
            self.release()
            return out

        return self.op("query", name, cycle, run)

    def release(self) -> None:
        with self.ctx.tracer.span("cache.release") as sp:
            released = self.ctx.release_caches()
            if sp is not None:
                sp.attrs["rdds"] = released

    def fail(self, name: str, why: str) -> None:
        self.failures.append(f"{name}: {why}"[:300])
        for op in self.ops:
            if op.name == name:
                op.ok = False


class DashboardQueries(Workload):
    """Seed-ordered passes over DASHBOARD_QUERIES, each through a noop
    sink. One cycle is one pass in a fresh seeded order; the unit is
    one query."""

    name = "dashboard_queries"
    table_sf = 0.1

    def __init__(self, ctx):
        super().__init__(ctx)
        self.wrong: set[str] = set()

    def setup(self) -> None:
        """A dashboard server is warm before it takes traffic: the first
        read runs every query once, collected, and checks it against its
        DuckDB oracle. The Spark part counts as set-up; the oracle part
        does not."""
        ctx = self.ctx
        first_write(ctx)
        for name in DASHBOARD_QUERIES:
            try:
                cols, rows = collect_rows(ctx.queries[name](ctx.spark, ctx.data_dir))
            except Exception as exc:  # noqa: BLE001
                self.fail(name, f"{type(exc).__name__}: {exc}")
                continue
            finally:
                ctx.release_caches()
            t0 = time.perf_counter()
            why = oracle_mismatch(cols, rows, ctx.oracles[name], ctx.data_dir)
            ctx.untimed_setup_s += time.perf_counter() - t0
            if why:
                self.fail(name, why)

    def cycle(self, index: int) -> None:
        ctx = self.ctx
        order = list(DASHBOARD_QUERIES)
        random.Random(ctx.seed * 1000 + index).shuffle(order)
        for name in order:
            fn = ctx.queries[name]
            self.query_op(name, index, lambda fn=fn: fn(ctx.spark, ctx.data_dir), noop)

    def fail(self, name: str, why: str) -> None:
        super().fail(name, why)
        self.wrong.add(name)

    def check(self) -> None:
        """Outputs were checked in set-up; fail the ops of any query
        whose output was wrong."""
        for op in self.ops:
            if op.name in self.wrong:
                op.ok = False

    def end_to_end(self, wall_s: float) -> dict:
        done = [o.wall_s for o in self.ops if o.ok]
        return {
            "op_p50_s": (statistics.median(done), "s", len(done)),
            "units_per_s": (len(done) / wall_s, "1/s", len(done)),
        }


class CorpusPipeline(Workload):
    """One pass of the LLM-data DAG per cycle: the composed pretraining
    job (``run_corpus_e2e``: quality filter, exact and LSH near-dup
    dedup, decontamination, temperature sampling, packing and BPE,
    returning the shard manifest and the observed funnel counters),
    then near-dup components, LM quality scores and an IVF top-k
    query. The unit is one document; one pass is the operation."""

    name = "corpus_pipeline"

    def setup(self) -> None:
        from calorista_spark.catalog import read_table

        ctx = self.ctx
        # first read: a scan of the corpus
        noop(read_table(ctx.spark, ctx.data_dir, "documents"))
        first_write(ctx)
        path = os.path.join(ctx.data_dir, "documents.parquet")
        self.n_docs = pq.read_metadata(path).num_rows
        self.results: dict = {}
        self.passes: list[float] = []

    def cycle(self, index: int) -> None:
        from calorista_spark.queries.corpus_e2e import run_corpus_e2e

        ctx = self.ctx

        def e2e():
            # one public call that builds and executes: the harvest
            # takes its last execution as the final action
            with ctx.tracer.span("queries.build", query=CORPUS_E2E, whole_call=True):
                out = run_corpus_e2e(ctx.spark, ctx.data_dir)
            self.release()
            return out

        t0 = time.perf_counter()
        results = {CORPUS_E2E: self.op("query", CORPUS_E2E, index, e2e)}
        for name in CORPUS_QUERIES:
            fn = ctx.queries[name]
            results[name] = self.query_op(
                name, index, lambda fn=fn: fn(ctx.spark, ctx.data_dir), collect_rows
            )
        self.passes.append(time.perf_counter() - t0)
        if index == 0:
            self.results = results

    def check(self) -> None:
        ctx = self.ctx
        for name in CORPUS_QUERIES:
            if self.results.get(name) is not None:
                cols, rows = self.results[name]
                why = oracle_mismatch(cols, rows, ctx.oracles[name], ctx.data_dir)
                if why:
                    self.fail(name, why)
        if self.results.get(CORPUS_E2E) is not None:
            shards, observed = self.results[CORPUS_E2E]
            for problem in e2e_consistency(shards, observed, self.n_docs):
                self.fail(CORPUS_E2E, problem)

    def end_to_end(self, wall_s: float) -> dict:
        p50 = statistics.median(self.passes)
        n = len(self.passes)
        return {
            "op_p50_s": (p50, "s", n),
            "units_per_s": (self.n_docs / p50, "1/s", n),
        }


def e2e_consistency(shards, observed: dict, n_docs: int) -> list[str]:
    """Checks of the composed job's two outputs against each other and
    the input: the funnel starts at the raw document count and narrows
    stage by stage, and the shard manifest holds exactly the sampled
    documents and tokens the funnel counted, each fill ratio derived
    from its bin's tokens."""
    f = observed["funnel"]
    problems = []
    stages = ("n_raw", "n_quality", "n_exact", "n_neardup", "n_decontam", "n_sampled")
    counts = [f[k] for k in stages]
    if counts[0] != n_docs:
        problems.append(f"funnel n_raw={counts[0]}, input has {n_docs} documents")
    if any(a < b for a, b in zip(counts, counts[1:])) or counts[-1] == 0:
        problems.append(f"funnel does not narrow to a sample: {counts}")
    if sum(r["n_docs"] for r in shards) != f["n_sampled"]:
        problems.append("shard n_docs do not sum to the sampled count")
    if sum(r["bin_tokens"] for r in shards) != f["t_sampled"]:
        problems.append("shard bin_tokens do not sum to the sampled tokens")
    for r in shards:
        fill = int(r["bin_tokens"] * 1e4 / 512.0 + 0.5) / 1e4
        if r["fill_ratio"] != fill or r["bpe_tokens"] <= 0:
            problems.append(f"shard {r['source']}/{r['bin_id']} is inconsistent")
            break
    return problems


class StoreIngest(Workload):
    """Overlapping sync windows into a commit-log store, each followed
    by a read of three dashboard sections over the fresh snapshot;
    every cycle ends with an update, a delete and a compact.

    Windows are WINDOW_DAYS long and advance by STEP_DAYS, so every
    sync re-fetches days the previous one merged. The operation is one
    refresh (sync, then the section read); the unit is one valid
    generated entry merged."""

    name = "store_ingest"
    WINDOW_DAYS = 10
    STEP_DAYS = 5
    ENTRIES_PER_DAY = 20
    SYNCS_PER_CYCLE = 3
    START = datetime.date(2024, 1, 1)

    def setup(self) -> None:
        from ingest import DayBook, StoreModel

        ctx = self.ctx
        self.fixture_dir = os.path.join(ctx.scratch, "days")
        self.store_path = os.path.join(ctx.scratch, "store")
        self.book = DayBook(ctx.seed, self.ENTRIES_PER_DAY)
        self.model = StoreModel()
        self.windows = 0
        self.store_stats: dict = {}
        # the store's initial load and its section read are the
        # workload's first write and first read
        self.refresh(cycle=-1)

    def window(self, index: int) -> list[datetime.date]:
        first = self.START + datetime.timedelta(days=index * self.STEP_DAYS)
        return [first + datetime.timedelta(days=i) for i in range(self.WINDOW_DAYS)]

    def refresh(self, cycle: int) -> None:
        from calorista_spark.pipeline import food_entries
        from calorista_spark.sources.rest import FileFakeSource

        ctx = self.ctx
        days = self.window(self.windows)
        self.windows += 1
        self.book.advance(days)
        served = self.book.write_window(self.fixture_dir, days)
        n_rows = self.model.sync(served)
        source = FileFakeSource(self.fixture_dir)
        start, end = days[0].isoformat(), days[-1].isoformat()

        def run():
            with ctx.tracer.span("pipeline.sync"):
                food_entries.sync(ctx.spark, source, self.store_path, start, end)
            self.sections(start, end)

        self.op("sync", "sync", cycle, run, units=n_rows)
        if ctx.tracer.enabled and cycle == 0:
            self.fetch_normalize(source, start, end)

    def sections(self, start: str, end: str) -> None:
        from calorista_spark.pipeline import food_entries
        from calorista_spark.sources.commitlog import CommitLogStore

        tracer = self.ctx.tracer
        with tracer.span("pipeline.sections"):
            with tracer.span("commitlog.read"):
                entries = CommitLogStore(self.store_path).read(self.ctx.spark)
            for section in (
                food_entries.latest_day_section(entries),
                food_entries.daily_range_section(entries, start, end),
                food_entries.weekly_section(entries),
            ):
                with tracer.span("spark.exec"):
                    section.collect()

    def fetch_normalize(self, source, start: str, end: str) -> None:
        """Traced runs only: the REST fetch and payload normalization
        of the window just synced, as their own action outside any op."""
        from calorista_spark.sources.payload import normalize_day_payloads
        from calorista_spark.sources.rest import fetch_range

        ctx = self.ctx
        with ctx.tracer.span("sources.fetch_normalize"):
            raw = fetch_range(ctx.spark, source, start, end)
            noop(normalize_day_payloads(raw.select("payload")))
        ctx.after_op()

    def cycle(self, index: int) -> None:
        from calorista_spark.sources.commitlog import CommitLogStore

        ctx = self.ctx
        for _ in range(self.SYNCS_PER_CYCLE):
            self.refresh(index)
        store = CommitLogStore(self.store_path)
        # DML over the older half of the last window
        lo = self.window(self.windows - 1)[0]
        hi = lo + datetime.timedelta(days=self.STEP_DAYS - 1)
        meal_u, meal_d = (("dinner", "other"), ("lunch", "breakfast"))[index % 2]
        where_u = [("meal", "==", meal_u), ("date", "between", (lo, hi))]
        where_d = [("meal", "==", meal_d), ("date", "between", (lo, hi))]

        def update():
            with ctx.tracer.span("commitlog.update"):
                store.update_where(ctx.spark, where_u, {"fiber": 7.5})

        def delete():
            with ctx.tracer.span("commitlog.delete"):
                store.delete_where(ctx.spark, where_d)

        def compact():
            with ctx.tracer.span("commitlog.compact"):
                store.compact(ctx.spark)

        self.op("update", "update_where", index, update)
        self.model.update(meal_u, lo, hi, "fiber", 7.5)
        self.op("delete", "delete_where", index, delete)
        self.model.delete(meal_d, lo, hi)
        self.op("compact", "compact", index, compact)
        if index == 0 and ctx.tracer.enabled:
            self.store_stats = store_stats(store)

    def check(self) -> None:
        from calorista_spark.sources.commitlog import CommitLogStore
        from ingest import COLUMNS, value_hash

        df = CommitLogStore(self.store_path).read(self.ctx.spark)
        rows = [r.asDict() for r in df.select(*COLUMNS).collect()]
        want = list(self.model.rows.values())
        if len(rows) != len(want):
            why = f"store holds {len(rows)} rows, the model {len(want)}"
        elif value_hash(rows) != value_hash(want):
            why = "store value hash differs from the model's"
        else:
            return
        self.failures.append(why)
        for op in self.ops:
            op.ok = False

    def end_to_end(self, wall_s: float) -> dict:
        syncs = [o for o in self.ops if o.kind == "sync" and o.cycle >= 0 and o.ok]
        walls = [o.wall_s for o in syncs]
        return {
            "op_p50_s": (statistics.median(walls), "s", len(walls)),
            "units_per_s": (sum(o.units for o in syncs) / sum(walls), "1/s", len(walls)),
        }

    def layer_stats(self) -> dict:
        return self.store_stats


def store_stats(store) -> dict:
    """File and byte counts of a commit-log store directory. Nothing is
    vacuumed, so every file the store ever wrote is still on disk."""
    written = files = log = 0
    for dirpath, _, names in os.walk(store.path):
        for n in names:
            size = os.path.getsize(os.path.join(dirpath, n))
            written += size
            files += 1
            if dirpath.startswith(store.commits_dir):
                log += size
    v = store.latest_version()
    live = store.manifest(v)["files"]
    live_bytes = sum(os.path.getsize(os.path.join(store.path, f)) for f in live)
    return {
        "commitlog.versions": len(store.versions()),
        "commitlog.live_files": len(live),
        "commitlog.files_written": files,
        "commitlog.bytes_written": written,
        "commitlog.live_bytes": live_bytes,
        "commitlog.log_bytes": log,
        "commitlog.write_amp": written / live_bytes,
    }


WORKLOADS = {w.name: w for w in (DashboardQueries, CorpusPipeline, StoreIngest)}
