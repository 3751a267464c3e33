"""The workloads. Each drives the engine's public API in one client thread,
closed loop, checks every answer, and returns its figures.

Every workload reports the same end-to-end metrics, each defined on the
workload's own ops (see ``README.md``):

- ``setup_s``: process start to the first timed op;
- ``primary_ms``: the workload's headline figure;
- ``secondary_ms``: its second figure;
- ``mix_s``: one cycle of the whole op mix, from per-kind medians.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from kiji_scoring_spark.fresh import FreshTableReader
from kiji_scoring_spark.queries import QUERIES
from kiji_scoring_spark.registry import FreshenerRegistry, TableLayout
from kiji_scoring_spark.sources import load_table

from . import datagen, oracle
from .trace import Op, Tracer, cpu_ticks

#: reads of one fresh_serving cycle, by count (50 / 15 / 20 / 15 %)
READ_MIX = {"get": 10, "bulk_get": 3, "plain_get": 4, "pandas_get": 3}
#: one cycle: the reads, one freshen with writeback, and one fallback; a
#: fallback step brings one of the cycle's pandas gets with it
CYCLE = ["get"] * 10 + ["bulk_get"] * 3 + ["plain_get"] * 4 + ["pandas_get"] * 2 + [
    "freshen", "fallback"]
BULK_KEYS = 16
#: see ``_kept``
STEAL_MAX = 0.02
REREAD_EVERY = 50
FRESHEN_BUDGET_MS = 60_000
FALLBACK_BUDGET_MS = 500
#: as_of advance per freshen_with_timeout call
AS_OF_STEP_MS = 3_600_000
SETUP_REPEATS = 3
#: fresh_serving runs this many cycles of its mix untimed before timing
#: starts: the driver-side read path is still getting faster (JIT) over the
#: first reads, and a fixed op count puts every run at the same stage
WARM_CYCLES = 1
#: fresh_serving times at least this many cycles: a cycle holds one freshen,
#: one fallback and three pandas gets, and their medians need more than one
MIN_CYCLES = 2

#: query_mix: family -> registry queries; the seed orders them per pass
BATCH_FAMILIES = {
    "tpch": ["q1_pricing_summary", "q3_shipping_priority"],
    "fresh": ["fresh_batch_scoring"],
    "ann": ["similarity_pq_adc_topk"],
    "sketch": ["sketch_theta_set_ops"],
    "dedup": ["dedup_minhash_candidate_pairs"],
    "arrow": ["multimodal_image_features"],
}
REPLAY = ["streaming_stream_stream_join"]
#: query_mix times at least this many passes, however short the run: a
#: query's median needs three runs, as its first timed run is still warming
#: up and some queries are bimodal
MIN_PASSES = 3
#: query_mix reads one fixed dataset, as the registry's parity data is fixed:
#: the run's seed orders the queries, so a seed changes no query's work
DATA_SEED = 0
FAMILIES = list(BATCH_FAMILIES) + ["replay"]
SPARK_FAMILY_METRICS = {
    "jobs": "count", "tasks": "count", "input_bytes": "bytes", "shuffle_bytes": "bytes",
    "spill_bytes": "bytes", "gc_ms": "ms", "executor_cpu_ms": "ms",
}


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    run_dir: str
    cpus: int
    entities: int
    sf: float
    #: added to every expected producer value; non-zero only to prove that
    #: a wrong answer is counted as a failed op
    expect_offset: float
    session_start_s: float


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)  # name -> (value, unit)
    host: dict = field(default_factory=dict)  # see ``_host``
    #: per-layer metrics that need the event log, folded after the stop
    layers_fold: object = None

    def check(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


def run_op(tracer: Tracer, kind: str, build, execute, groups=None):
    """Time one op: ``build()`` is driver-side plan construction,
    ``execute(plan)`` runs it. Returns (op, output); an exception is
    returned as the output so the caller counts a failed op."""
    op = tracer.new_op(kind, groups)
    s0 = cpu_ticks()
    t0 = time.perf_counter()
    t1 = None
    try:
        with tracer.span(op, kind):
            with tracer.span(op, "build", kind):
                plan = build()
            t1 = time.perf_counter()
            with tracer.span(op, "exec", kind):
                out = execute(plan)
    except Exception as e:  # noqa: BLE001 - a failing op is a measured outcome
        out = e
    t2 = time.perf_counter()
    s1 = cpu_ticks()
    t1 = t1 or t2
    op.steal = (s1[0] - s0[0]) / (s1[1] - s0[1]) if s1[1] > s0[1] else 0.0
    tracer.end_op(op)
    op.build_ms, op.exec_ms, op.latency_ms = (t1 - t0) * 1e3, (t2 - t1) * 1e3, (t2 - t0) * 1e3
    return op, out


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _p90(xs) -> float:
    xs = list(xs)
    return float(np.percentile(xs, 90)) if xs else 0.0


def _kept(ops: list[Op]) -> list[Op]:
    """The ops whose latency counts: those during which the host stole at
    most ``STEAL_MAX`` of the machine's CPU time. On a shared VM a stolen
    op measures the neighbours, not the engine (on a 4-vCPU VM at 15 %
    steal a point get took twice as long). Where fewer than a quarter of
    ``ops`` are that clean, the least stolen quarter (at least one op)
    counts instead, so every kind keeps a figure."""
    clean = [o for o in ops if o.steal <= STEAL_MAX]
    quarter = (len(ops) + 3) // 4
    return clean if len(clean) >= quarter else sorted(ops, key=lambda o: o.steal)[:quarter]


def _lat(ops: list[Op], kind: str, traced: bool | None = None) -> list[float]:
    return [o.latency_ms for o in _kept(
        [o for o in ops if o.kind == kind and (traced is None or o.traced == traced)])]


def _host(ops: list[Op]) -> dict:
    """How much of the timed part the host disturbed: the mean steal share
    over the timed ops and the share of them that counts."""
    kinds = {o.kind for o in ops}
    kept = sum(len(_kept([o for o in ops if o.kind == k])) for k in kinds)
    return {"steal_mean": _mean(o.steal for o in ops),
            "ops_kept": kept / len(ops) if ops else 0.0}


def _overhead(ops: list[Op], kind: str) -> float:
    """Median traced minus median untraced latency of one op kind."""
    return _median(_lat(ops, kind, True)) - _median(_lat(ops, kind, False))


def _traced(ops: list[Op], kind: str) -> list[Op]:
    return [o for o in ops if o.kind == kind and o.traced]


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# -- the fresh table --------------------------------------------------------

@dataclass
class FreshSetup:
    table: datagen.VersionedTable
    reader: FreshTableReader
    slow_reader: FreshTableReader
    load_cold_ms: float
    load_warm_ms: float
    once_s: float  # median time of one table set-up


def _capsules(registry, layout, table: str, slow: bool) -> None:
    if slow:
        registry.store(layout, table, "value:versions", "perfbench.producers.SleepyProducer",
                       "kiji_scoring_spark.policies.AlwaysFreshen")
        return
    shelf = f'{{"shelfLife": {datagen.SHELF_LIFE_MS}}}'
    registry.store(layout, table, "score:versions",
                   "kiji_scoring_spark.lib.DoubleLatestValueProducer",
                   "kiji_scoring_spark.policies.ShelfLife", shelf)
    registry.store(layout, table, "pscore:versions", "perfbench.producers.PandasDoubleLatest",
                   "kiji_scoring_spark.policies.ShelfLife", shelf)


def fresh_setup(ctx: Ctx, entities: int) -> FreshSetup:
    """Generate, load and attach the fresh table ``SETUP_REPEATS`` times
    (each into its own directory, so every load is cold) and keep the last."""
    times, cold, warm = [], [], []
    for r in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        root = os.path.join(ctx.run_dir, f"fresh{r}")
        table = datagen.versioned_table(root, ctx.seed, entities, ctx.cpus)
        t1 = time.perf_counter()
        df = load_table(ctx.spark, root, table.name)
        t2 = time.perf_counter()
        load_table(ctx.spark, root, table.name)
        t3 = time.perf_counter()
        registry = FreshenerRegistry(os.path.join(root, "fresheners.json"))
        layout = TableLayout(df.schema)
        _capsules(registry, layout, "bench_fresh", slow=False)
        _capsules(registry, layout, "bench_fresh_slow", slow=True)
        reader = FreshTableReader(ctx.spark, "bench_fresh", df, registry,
                                  scored_path=os.path.join(root, "scored"))
        slow_reader = FreshTableReader(ctx.spark, "bench_fresh_slow", df, registry,
                                       scored_path=os.path.join(root, "scored_slow"))
        reader.preload()
        slow_reader.preload()
        times.append(time.perf_counter() - t0)
        cold.append((t2 - t1) * 1e3)
        warm.append((t3 - t2) * 1e3)
    return FreshSetup(table, reader, slow_reader, _median(cold), _median(warm), _median(times))


def check_scored(cells, k: int, t: datagen.VersionedTable, newest_ts: np.ndarray,
                 as_of: int, offset: float) -> bool:
    """A stale key carries a new newest cell at ``as_of`` holding 2 × the
    newest value; a fresh key is unchanged."""
    if not cells:
        return False
    if newest_ts[k] < as_of - datagen.SHELF_LIFE_MS:
        return (len(cells) == 3 and cells[0]["ts"] == as_of
                and cells[0]["value"] == 2.0 * t.value_latest[k] + offset
                and cells[1]["ts"] == newest_ts[k])
    return len(cells) == 2 and cells[0]["ts"] == newest_ts[k]


def check_value(cells, k: int, t: datagen.VersionedTable, offset: float) -> bool:
    """A column with no capsule reads back as generated."""
    return bool(cells) and len(cells) == 4 and cells[0]["value"] == t.value_latest[k] + offset


# -- fresh_serving -------------------------------------------------------------

def fresh_serving(ctx: Ctx) -> Result:
    res = Result()
    fs = fresh_setup(ctx, ctx.entities)
    t, reader, slow, tracer = fs.table, fs.reader, fs.slow_reader, ctx.tracer
    rng = np.random.default_rng([ctx.seed, 3])
    off = ctx.expect_offset
    cols = {"get": "score:versions", "bulk_get": "score:versions",
            "plain_get": "value:versions", "pandas_get": "pscore:versions"}
    calls = [0]
    plan_ms: list[float] = []
    amp: list[float] = []
    active: list[float] = []
    resolve_ms: list[float] = []

    def read(kind: str, as_of: int = datagen.NOW_MS) -> None:
        col = cols[kind]
        flat = col.replace(":", "_")
        if kind == "bulk_get":
            keys = [int(k) for k in rng.choice(t.n, BULK_KEYS, replace=False)]
            build = lambda: reader.bulk_get(keys, as_of, [col]).select("entity_id", flat)  # noqa: E731
        else:
            keys = [int(rng.integers(0, t.n))]
            build = lambda: reader.get(keys[0], as_of, [col]).select("entity_id", flat)  # noqa: E731
        op, rows = run_op(tracer, kind, build, lambda df: df.collect())
        ok = isinstance(rows, list) and len(rows) == len(keys)
        if ok:
            op.rows = len(rows)
            got = {r["entity_id"]: r[flat] for r in rows}
            for k in keys:
                if kind == "plain_get":
                    ok = ok and check_value(got.get(k), k, t, off)
                else:
                    ts = t.pscore_newest_ts if kind == "pandas_get" else t.score_newest_ts
                    ok = ok and check_scored(got.get(k), k, t, ts, as_of, off)
        res.check(ok)

    def next_as_of() -> int:
        calls[0] += 1
        return datagen.NOW_MS + calls[0] * AS_OF_STEP_MS

    def freshen() -> None:
        as_of = next_as_of()
        groups = [f"freshen-bench_fresh-{as_of}-{i}" for i in range(2)]
        op, out = run_op(
            tracer, "freshen", lambda: None,
            lambda _: reader.freshen_with_timeout(as_of, timeout_ms=FRESHEN_BUDGET_MS),
            groups=groups,
        )
        ok = isinstance(out, tuple) and out[1] is True
        if ok:
            def scored(col: str):
                newest = F.col(col)[0]
                hit = (newest["ts"] == as_of) & (
                    newest["value"] == F.col("value_versions")[0]["value"] * 2 + off)
                return F.sum(hit.cast("long"))

            got = out[0].select(F.count(F.lit(1)).alias("n"), scored("score_versions").alias("s"),
                                scored("pscore_versions").alias("p")).collect()[0]
            cut = as_of - datagen.SHELF_LIFE_MS
            n_s = int((t.score_newest_ts < cut).sum())
            n_p = int((t.pscore_newest_ts < cut).sum())
            ok = got["n"] == t.n and got["s"] == n_s and got["p"] == n_p
        if op.traced:
            t0 = time.perf_counter()
            reader.freshen(as_of)
            plan_ms.append((time.perf_counter() - t0) * 1e3)
            amp.append(_du(os.path.join(reader.scored_path, f"as_of={as_of}")) / t.bytes_on_disk)
        # keep the disk flat: drop this call's scored table once checked
        shutil.rmtree(os.path.join(reader.scored_path, f"as_of={as_of}"), ignore_errors=True)
        res.check(ok)

    def fallback() -> None:
        """A pandas get (so the worker pool is warm and the sleeping tasks
        are inside Python when the budget expires), the timed-out call, and
        the plain get that follows it."""
        read("pandas_get")
        as_of = next_as_of()
        group = f"freshen-bench_fresh_slow-{as_of}-0"
        op, out = run_op(
            tracer, "fallback", lambda: None,
            lambda _: slow.freshen_with_timeout(as_of, timeout_ms=FALLBACK_BUDGET_MS),
            groups=[group],
        )
        if op.traced:
            active.append(float(tracer.active_tasks(group)))
        res.check(isinstance(out, tuple) and out[1] is False and out[0] is slow.df)
        k = int(rng.integers(0, t.n))
        _, rows = run_op(
            tracer, "post_fallback_get",
            lambda: reader.get(k, as_of, ["value:versions"]).select("value_versions"),
            lambda df: df.collect(),
        )
        res.check(isinstance(rows, list) and len(rows) == 1
                  and check_value(rows[0]["value_versions"], k, t, off))

    steps = {"freshen": freshen, "fallback": fallback}
    n_ops = [0]

    def step(kind: str) -> None:
        steps[kind]() if kind in steps else read(kind)
        n_ops[0] += 1
        if n_ops[0] % REREAD_EVERY == 0:
            t0 = time.perf_counter()
            reader.reread_policies(preload=True)
            resolve_ms.append((time.perf_counter() - t0) * 1e3)

    def mix(seconds: float, cycles: int) -> float:
        """Run whole ``cycles``, then go on until ``seconds`` are up;
        returns the seconds it ran."""
        t0 = time.perf_counter()
        deadline = t0 + seconds
        done = 0
        while done < cycles or time.perf_counter() < deadline:
            for kind in rng.permutation(CYCLE):
                if done >= cycles and time.perf_counter() >= deadline:
                    break
                step(str(kind))
            done += 1
        return time.perf_counter() - t0

    # warm-up: one untimed cycle, so that every run starts timing at the
    # same point of the JIT's progress
    t0 = time.perf_counter()
    mix(0, WARM_CYCLES)
    warm_s = time.perf_counter() - t0
    res.setup_s = ctx.session_start_s + fs.once_s + warm_s
    tracer.reset()
    for xs in (plan_ms, amp, active, resolve_ms):
        xs.clear()
    timed_s = mix(ctx.seconds, MIN_CYCLES)

    ops = tracer.ops
    per_cycle = dict(READ_MIX, freshen=1, fallback=1, post_fallback_get=1)
    med = {k: _median(_lat(ops, k)) for k in per_cycle}
    res.host = dict(_host(ops), timed_s=timed_s)
    res.e2e = {
        "primary_ms": med["get"],
        "secondary_ms": med["fallback"] - FALLBACK_BUDGET_MS,
        "mix_s": sum(n * med[k] for k, n in per_cycle.items()) / 1e3,
    }
    if tracer.enabled:
        res.layers.update(_setup_layers(ctx, fs.load_cold_ms, fs.load_warm_ms,
                                        warm_s - res.e2e["mix_s"]))
        res.layers["registry.resolve_ms"] = (_median(resolve_ms), "ms")
        res.layers["fresh.get_p90_ms"] = (_p90(_lat(ops, "get")), "ms")
        res.layers["fresh.freshen_plan_ms"] = (_median(plan_ms), "ms")
        res.layers["fresh.write_amplification"] = (_median(amp), "ratio")
        res.layers["fresh.fallback_active_tasks"] = (_mean(active), "count")
        res.layers["trace.overhead.primary_ms"] = (_overhead(ops, "get"), "ms")
        res.layers["trace.overhead.secondary_ms"] = (_overhead(ops, "fallback"), "ms")
    res.layers_fold = lambda: _fresh_layers(ops)  # needs the event log: after stop
    return res


def _fresh_layers(ops: list[Op]) -> dict:
    get, pget, plain = _traced(ops, "get"), _traced(ops, "pandas_get"), _traced(ops, "plain_get")
    fresh_ops, fb_ops = _traced(ops, "freshen"), _traced(ops, "fallback")

    def rows_read(xs: list[Op]) -> float:
        returned = sum(o.rows for o in xs)
        return sum(o.spark.get("input_records", 0) for o in xs) / returned if returned else 0.0

    return {
        "fresh.get_build_ms": (_median(o.build_ms for o in get), "ms"),
        "fresh.get_exec_ms": (_median(o.exec_ms for o in get), "ms"),
        "spark.jobs_per_get": (_mean(o.jobs for o in get), "count"),
        "spark.tasks_per_get": (_mean(o.tracker_tasks for o in get), "count"),
        "fresh.plain_get_exec_ms": (_median(o.exec_ms for o in plain), "ms"),
        "fresh.pandas_get_build_ms": (_median(o.build_ms for o in pget), "ms"),
        "fresh.pandas_get_exec_ms": (_median(o.exec_ms for o in pget), "ms"),
        "spark.rows_read_per_row_returned.get": (rows_read(get), "ratio"),
        "spark.rows_read_per_row_returned.pandas_get": (rows_read(pget), "ratio"),
        "spark.jobs_per_freshen": (_mean(o.jobs for o in fresh_ops), "count"),
        "spark.shuffle_bytes_per_freshen": (
            _mean(o.spark.get("shuffle_bytes", 0) for o in fresh_ops), "bytes"),
        "spark.executor_run_ms_per_freshen": (
            _mean(o.spark.get("executor_run_ms", 0) for o in fresh_ops), "ms"),
        "spark.tasks_killed_per_fallback": (
            _mean(o.spark.get("killed", 0) for o in fb_ops), "count"),
        "fresh.post_fallback_get_ms": (
            _median(o.latency_ms for o in _traced(ops, "post_fallback_get")), "ms"),
    }


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _setup_layers(ctx: Ctx, cold_ms: float, warm_ms: float, state_build_s: float) -> dict:
    return {
        "session.start_s": (ctx.session_start_s, "s"),
        "sources.load_cold_ms": (cold_ms, "ms"),
        "sources.load_warm_ms": (warm_ms, "ms"),
        "setup.state_build_s": (state_build_s, "s"),
    }


# -- query_mix -----------------------------------------------------------------

def query_mix(ctx: Ctx) -> Result:
    res = Result()
    tracer, spark = ctx.tracer, ctx.spark
    rng = np.random.default_rng([ctx.seed, 5])
    t0 = time.perf_counter()
    sf_dir = datagen.tpch_dataset(os.path.join(ctx.run_dir, "sf"), DATA_SEED, ctx.sf)
    gen_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    load_table(spark, sf_dir, "lineitem")
    t2 = time.perf_counter()
    load_table(spark, sf_dir, "lineitem")
    t3 = time.perf_counter()
    family = {q: f for f, qs in BATCH_FAMILIES.items() for q in qs}
    family.update({q: "replay" for q in REPLAY})
    batch = [q for qs in BATCH_FAMILIES.values() for q in qs]

    # cold pass: builds the persisted ANN / sketch / replay state and checks
    # every query against its DuckDB oracle, outside the timed loop
    con = oracle.connect(sf_dir)
    expected_rows: dict[str, int] = {}
    cold_ms: dict[str, float] = {}
    for q in list(rng.permutation(batch)) + list(rng.permutation(REPLAY)):
        q = str(q)
        a = time.perf_counter()
        try:
            got = oracle.rows_of_spark(QUERIES[q].fn(spark, sf_dir))
        except Exception:  # noqa: BLE001
            got = None
        cold_ms[q] = (time.perf_counter() - a) * 1e3
        want = oracle.rows_of_duckdb(con, QUERIES[q].oracle)
        if ctx.expect_offset:
            want = (want[0], want[1][:-1])  # a deliberately wrong expectation
        res.check(got is not None and oracle.same_rows(got, want) is None)
        expected_rows[q] = len(want[1])
    con.close()

    def one(q: str) -> None:
        _, n = run_op(tracer, q, lambda: QUERIES[q].fn(spark, sf_dir), lambda df: df.count())
        res.check(n == expected_rows[q])

    # the cold pass is the warm-up. The first timed run of a query is still
    # up to a third slower than later ones (JIT); the median of its three or
    # more runs leaves that one out
    res.setup_s = ctx.session_start_s + gen_s + (t3 - t1) + sum(cold_ms.values()) / 1e3
    tracer.reset()

    t5 = time.perf_counter()
    deadline = t5 + ctx.seconds
    # at least MIN_PASSES whole passes (four when traced, so that every
    # query has two traced and two untraced runs), then until the time is up
    min_passes, passes = (4 if tracer.enabled else MIN_PASSES), 0
    while passes < min_passes or time.perf_counter() < deadline:
        for q in list(rng.permutation(batch)) + list(rng.permutation(REPLAY)):
            if passes >= min_passes and time.perf_counter() >= deadline:
                break
            one(str(q))
        passes += 1
    timed_s = time.perf_counter() - t5

    ops = tracer.ops
    per_q = {q: _median(_lat(ops, q)) for q in batch + REPLAY}
    res.host = dict(_host(ops), timed_s=timed_s)
    res.e2e = {
        "primary_ms": sum(per_q[q] for q in batch),
        "secondary_ms": sum(per_q[q] for q in REPLAY),
        "mix_s": sum(per_q.values()) / 1e3,
    }
    if tracer.enabled:
        res.layers.update(_setup_layers(ctx, (t2 - t1) * 1e3, (t3 - t2) * 1e3,
                                        (sum(cold_ms.values()) - sum(per_q.values())) / 1e3))
        res.layers["trace.overhead.primary_ms"] = (sum(_overhead(ops, q) for q in batch), "ms")
        res.layers["trace.overhead.secondary_ms"] = (sum(_overhead(ops, q) for q in REPLAY), "ms")

    def fold() -> dict:
        """Per family, per pass: the sum over its queries of each query's
        mean over its traced runs."""
        def per_pass(f: str, value) -> float:
            return sum(_mean(value(o) for o in _traced(ops, q)) for q in family if family[q] == f)

        out = {}
        for f in FAMILIES:
            out[f"queries.{f}.build_ms"] = (per_pass(f, lambda o: o.build_ms), "ms")
            out[f"queries.{f}.exec_ms"] = (per_pass(f, lambda o: o.exec_ms), "ms")
            for m, unit in SPARK_FAMILY_METRICS.items():
                key = "log_jobs" if m == "jobs" else m
                out[f"spark.{f}.{m}"] = (per_pass(f, lambda o: o.spark.get(key, 0)), unit)
        replay = [o for o in ops if o.traced and family[o.kind] == "replay"]
        batches = sum(1 for ts, _ in tracer.micro_batches
                      if any(o.start_ms <= ts <= o.end_ms + 1000 for o in replay))
        jobs = sum(o.spark.get("log_jobs", 0) for o in replay)
        out["streaming.micro_batches"] = (batches / len(replay) if replay else 0.0, "count")
        out["streaming.jobs_per_batch"] = (jobs / batches if batches else 0.0, "count")
        return out

    res.layers_fold = fold
    return res


WORKLOADS = {"fresh_serving": fresh_serving, "query_mix": query_mix}
