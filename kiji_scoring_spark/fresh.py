"""The freshen pass + fresh readers — Spark translation of the reference's
core conditional score-and-writeback loop (SURVEY §2.A rows A1/A2/A7/A10,
§3.1-3.2).

Reference hot path (``impl/InternalFreshKijiTableReader.java:663-725``):
per requested column with an attached freshener, evaluate the policy; if
stale, run the producer on the row (with the producer's own data request),
write the result back to the attached column, and reread. Bounded by a
timeout with stale fallback.

Batch redefinition (SURVEY §4.3.1): freshening a table is ONE declarative
pass —

    stale   = rows where NOT policy.is_fresh(attached_col, as_of)
    scored  = producer over the stale rows (expression / pandas / MLlib)
    result  = table with attached_col := with_put(attached_col, as_of,
              score) on stale rows, untouched elsewhere

The timeout→stale-fallback contract (A10) becomes: the freshen job runs
under a wall-clock budget; if the budget expires the job group is
cancelled and the ORIGINAL (stale) table is returned — the exact analog of
"return stale data on timeout" (``InternalFreshKijiTableReader.java:
686-724``). ``coalesce(new, old)`` inside the merge guarantees rows the
producer didn't reach keep their stale values (partial freshening,
``:703-708``).

Scale: the stale filter is a pushed-down predicate; expression producers
stay in codegen; pandas producers move only the stale partition through
Arrow; the merge is a projection (when/otherwise), not a join — the table
is scanned once, and nothing shuffles unless the producer itself needs to.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import model
from .policies import FreshnessPolicy
from .producers import (
    ExpressionProducer,
    MLlibProducer,
    PandasProducer,
    Producer,
    attach_stores,
    merge_stores,
)
from .registry import FreshenerRegistry, TableLayout, load_class, parse_column

#: reference default: 100 ms per get (FreshKijiTableReaderBuilder.java:66-67).
#: Batch jobs amortize over many rows, so the default budget is larger.
DEFAULT_TIMEOUT_MS = 10_000

#: how long after the driver's deadline a pandas producer stops itself in
#: its Python worker (``PandasProducer.make_map_fn(deadline=...)``). The
#: driver's job-group cancel lands first, so the tasks still end as KILLED,
#: not failed, and log no ERROR lines.
_PRODUCER_GRACE_S = 0.1

#: after a cancel, how long to wait for the freshen thread to see its job
#: fail, then how long and how often to poll for the killed tasks to end
_CANCEL_JOIN_S = 5.0
_DRAIN_TIMEOUT_S = 15.0
_DRAIN_POLL_S = 0.05


def _drain_job_group(sc, group: str, timeout_s: float = _DRAIN_TIMEOUT_S) -> bool:
    """Block until every task of ``group``'s jobs has actually TERMINATED
    (not merely been told to die), bounded by ``timeout_s``.

    cancelJobGroup is asynchronous: it sets the tasks' kill flag and
    returns. A pandas task blocked in its Python worker ends in one of two
    ways:

    - Usually the worker stops itself: ``freshen_with_timeout`` hands the
      producer a deadline just past its own, and the worker raises there,
      exits and is never pooled. The JVM sees the kill flag and reports the
      task KILLED within a poll or two of this loop.
    - A producer stuck in native code that ignores the signal waits for
      PythonRunner's monitor thread. It polls the kill flag every 2 s and
      then waits ``spark.python.task.killTimeout`` (2 s) before it destroys
      the worker, so such a task ends up to about 4 s after the cancel.

    Either way a new job must not start before the killed tasks end. With
    ``spark.python.worker.reuse=true`` a job submitted while the monitor
    is still destroying a worker can be handed that worker mid-read:
    java.nio.channels.CancelledKeyException in the NEXT, healthy query
    (reproduced: a cancelled 30 s pandas producer poisoned the next test's
    parquet write one second later). Draining also keeps this query's
    accumulators referenced until the last task completion has reported,
    which prevents the DAGScheduler "attempted to access non-existent
    accumulator" ERROR spam from late completions after the plan has been
    garbage collected.

    Residual window: ``numActiveTasks == 0`` is reported when the task
    ends. A deadline-stopped worker has raised before that and is closed
    with its task, never pooled, so nothing is left behind. A worker the
    monitor destroys is destroyed asynchronously to that report, so only
    for producers stuck in native code can a short window remain.

    Returns True when the group drained, False on deadline (the caller
    keeps its promptness contract either way — a producer stuck in
    non-interruptible native code must not wedge the stale-fallback
    return forever; the monitor thread will still reap it)."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while True:
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        active = 0
        for sid in stage_ids:
            sinfo = tracker.getStageInfo(sid)
            if sinfo is not None:
                active += sinfo.numActiveTasks
        if active == 0:
            return True
        if time.monotonic() >= deadline:
            return False
        time.sleep(_DRAIN_POLL_S)


@dataclass
class Freshener:
    """A resolved capsule: policy + producer bound to an attached column
    (``makeCapsule``, ``impl/InternalFreshKijiTableReader.java:356-386``)."""

    column: str  # 'family:qualifier' or map-family name
    policy: FreshnessPolicy
    producer: Producer


class FreshTableReader:
    """Fresh reader over a DataFrame-backed table.

    Mirrors ``FreshKijiTableReader``: ``get``/``bulk_get`` behave like
    plain reads except attached columns are freshened first. Capsules are
    resolved lazily from the registry and cached; ``reread_policies``
    invalidates the cache (A13).
    """

    def __init__(
        self,
        spark: SparkSession,
        table_name: str,
        df: DataFrame,
        registry: FreshenerRegistry,
        key_col: str = "entity_id",
        timeout_ms: int = DEFAULT_TIMEOUT_MS,
        allow_partial: bool = False,
        scored_path: str | None = None,
    ):
        self.spark = spark
        self.table_name = table_name
        self.df = df
        self.registry = registry
        self.key_col = key_col
        self.timeout_ms = timeout_ms
        self.allow_partial = allow_partial
        #: scored-table location for materialized freshens (A8 writeback
        #: target); a temp dir is created lazily if not given
        self.scored_path = scored_path
        self._capsules: dict[str, Freshener] | None = None
        self._reread_timer: threading.Timer | None = None
        #: serializes timer re-arm vs stop so a stop can never race a tick
        #: into leaving an orphan timer armed
        self._reread_lock = threading.Lock()
        #: bumped by every start/stop; a tick re-arms only if its generation
        #: is still current (stale ticks die silently)
        self._reread_generation = 0

    # -- capsule lifecycle (A13) -----------------------------------------

    def _resolve_capsules(self) -> dict[str, Freshener]:
        if self._capsules is None:
            caps = {}
            for column, rec in self.registry.retrieve_all(self.table_name).items():
                policy_cls = load_class(rec.freshness_policy_class)
                policy = policy_cls()
                if rec.freshness_policy_state:
                    policy.deserialize(rec.freshness_policy_state)
                producer_cls = load_class(rec.producer_class)
                producer = producer_cls() if isinstance(producer_cls, type) else producer_cls
                caps[column] = Freshener(column=column, policy=policy, producer=producer)
            self._capsules = caps
        return self._capsules

    def reread_policies(self, preload: bool = False) -> None:
        """Drop cached capsules; next read re-resolves from the registry
        (``rereadPolicies(boolean)``,
        ``InternalFreshKijiTableReader.java:271-309``). With ``preload``
        the re-resolution happens EAGERLY, before any read needs it —
        the reference's ``withPreload`` flag, which immediately preloads
        the records a reread discovered (``:301-308``)."""
        self._capsules = None
        if preload:
            self._resolve_capsules()

    def preload(self) -> None:
        """Eagerly resolve capsules (``preload``, ``:823-827``)."""
        self._resolve_capsules()

    def start_auto_reread(self, period_ms: int, preload: bool = False) -> None:
        """Scheduled automatic reread — the analog of the reference's
        ``RereadTask``/Timer (``InternalFreshKijiTableReader.java:211-221``,
        scheduled at ``:255-259``): every ``period_ms`` the capsule cache is
        dropped so the next read picks up registry changes. Like the
        reference (which requires ``rereadPeriod > 0``), a non-positive
        period is rejected. ``preload`` is the builder's
        ``withPreloadOnAutomaticReread``
        (``FreshKijiTableReaderBuilder.java:171-179``): each scheduled
        reread immediately re-resolves capsules instead of leaving the
        first post-tick read to pay the resolution lazily."""
        if period_ms <= 0:
            raise ValueError(f"reread period must be > 0 ms, got {period_ms}")
        self.stop_auto_reread()

        with self._reread_lock:
            generation = self._reread_generation

            def tick():
                self.reread_policies(preload)
                # re-arm atomically w.r.t. stop: a stop bumps the generation,
                # so a tick that lost the race sees a stale generation and
                # dies instead of arming an orphan timer
                with self._reread_lock:
                    if self._reread_generation != generation:
                        return
                    self._reread_timer = threading.Timer(period_ms / 1000.0, tick)
                    self._reread_timer.daemon = True
                    self._reread_timer.start()

            self._reread_timer = threading.Timer(period_ms / 1000.0, tick)
            self._reread_timer.daemon = True
            self._reread_timer.start()

    def stop_auto_reread(self) -> None:
        """Cancel the scheduled reread (reader close semantics,
        ``InternalFreshKijiTableReader.java`` close cancels the timer)."""
        with self._reread_lock:
            self._reread_generation += 1
            t = self._reread_timer
            self._reread_timer = None
        if t is not None:
            t.cancel()

    # -- freshen pass (A7/A8/A10) ----------------------------------------

    def _versions_expr(self, layout: TableLayout, column: str, map_qual: str) -> Column:
        """Versions expression for any 'family:qualifier' / map-family name.

        A map-type family resolves per qualifier: a qualified request
        ('mapfam:q') reads THAT qualifier's versions; a bare family name
        falls back to the attached producer's write qualifier. This lets a
        policy data request (A6) target a different map cell than the one
        the producer writes — without it, every map-family request would
        silently read the producer's cell."""
        fam, qual = parse_column(column)
        if layout.is_map_family(fam):
            return model.map_get_versions(F.col(fam), qual if qual is not None else map_qual)
        if qual is None:
            raise ValueError(
                f"column {column!r} is a group-type family; request a "
                f"qualified column 'family:qualifier'"
            )
        flat = layout.flat_name(column)
        out = F.col(flat)
        # tag with SQL text (see model._col) so wide policy expressions
        # over group-type columns build as one parsed string; bare
        # identifiers ONLY, backtick-quoted (ADVICE r15 — F.expr would
        # misparse hyphens, dots, spaces that F.col accepts)
        if flat.isidentifier():
            out._kss_sql = f"`{flat}`"
        return out

    def _freshen_column(
        self, df: DataFrame, cap: Freshener, as_of_ms: int, deadline: float | None = None
    ) -> DataFrame:
        """Freshen one capsule's column. ``deadline`` (epoch seconds)
        stops a pandas producer inside its Python worker; expression and
        MLlib producers run in the JVM and stop at the next row on cancel."""
        from pyspark.sql.types import DoubleType, StructField, StructType

        fam, qual = parse_column(cap.column)
        layout = TableLayout(df.schema)
        flat = layout.flat_name(cap.column)
        is_map = qual is None
        orig_cols = list(df.columns)
        # family-wide producers choose the qualifier they write to
        # (impl/KijiFreshProducerContext.java:115-131)
        map_qual = getattr(cap.producer, "map_qualifier", "score")

        # A9: KV side-inputs attach BEFORE the freshness predicate is
        # evaluated and on EVERY producer branch — in the reference a policy
        # may consult its getRequiredStores() stores inside isFresh
        # regardless of producer type (KijiFreshnessPolicy.java:86-88,
        # exercised by TestKVStores.java:126-131), with policy stores
        # masking producer stores of the same name
        # (InternalFreshKijiTableReader.java:374-379). The joined columns
        # are visible to the predicate, to ExpressionProducer.score, and to
        # a PandasProducer's data_request; the final select(orig_cols)
        # drops them.
        stores = merge_stores(cap.producer.required_stores, cap.policy.required_stores)
        if stores:
            df = attach_stores(df, stores)

        # A6: a policy with its own data request evaluates freshness over
        # THAT projection, not the attached column (the reference's
        # shouldUseClientDataRequest=false branch,
        # InternalFreshKijiTableReader.java:526-536, second read :588-596 —
        # here the "second read" is a different projection of the same row,
        # free under Catalyst).
        policy_req = cap.policy.data_request
        if policy_req is None:
            versions: Column = self._versions_expr(layout, cap.column, map_qual)
            fresh_pred = cap.policy.is_fresh(versions, as_of_ms)
        else:
            requested = {
                c: self._versions_expr(layout, c, map_qual) for c in policy_req
            }
            fresh_pred = cap.policy.is_fresh_over(requested, as_of_ms)

        producer = cap.producer
        if isinstance(producer, PandasProducer):
            # Python path: score ONLY the stale partition through Arrow,
            # then merge back by key. No broadcast hint: with AlwaysFreshen
            # (or a cold table) the stale side is the WHOLE table, and a
            # forced broadcast of an unbounded side is a driver OOM at
            # scale — AQE picks broadcast at runtime when the scored side
            # really is small.
            stale = df.filter(~fresh_pred)
            req_cols = [self.key_col] + [
                layout.flat_name(c) for c in producer.data_request
            ]
            scored_in = stale.select(*dict.fromkeys(req_cols))
            out_schema = StructType(
                list(scored_in.schema.fields) + [StructField("__score__", DoubleType())]
            )
            scored = scored_in.mapInPandas(
                producer.make_map_fn("__score__", deadline), schema=out_schema
            ).select(self.key_col, "__score__")
            df = df.join(scored, on=self.key_col, how="left")
            score_col = F.col("__score__")
        elif isinstance(producer, MLlibProducer):
            stale = df.filter(~fresh_pred)
            scored = producer.transform(stale).select(
                self.key_col, F.col(producer.prediction_col).alias("__score__")
            )
            df = df.join(scored, on=self.key_col, how="left")
            score_col = F.col("__score__")
        else:
            # Expression producer: stays fully in codegen; KV store columns
            # were already attached above
            score_col = producer.score(df)

        written = (
            model.map_with_put(F.col(fam), map_qual, as_of_ms, score_col)
            if is_map
            else model.with_put(F.col(flat), as_of_ms, score_col)
        )
        # stale & produced → write; stale & score NULL (producer didn't
        # reach the row) → keep old (partial-freshening invariant A10)
        target = fam if is_map else flat
        df = df.withColumn(
            target,
            F.when(fresh_pred | score_col.isNull(), F.col(target)).otherwise(written),
        )
        return df.select(*orig_cols)

    def freshen(self, as_of_ms: int, columns: list[str] | None = None) -> DataFrame:
        """Apply every attached freshener (or the requested subset) and
        return the freshened table. Purely declarative — callers decide
        whether to materialize (writeback) or query directly."""
        caps = self._resolve_capsules()
        df = self.df
        for column, cap in sorted(caps.items()):
            if columns is None or column in columns:
                df = self._freshen_column(df, cap, as_of_ms)
        return df

    def _materialize(self, df: DataFrame, tag: str) -> tuple[DataFrame, str]:
        """Materialize a freshened table by WRITING it to the scored-table
        location and reading it back — the A8 writeback, and the right
        materialization at 100 TB (a cached table evicts under memory
        pressure and silently recomputes; a parquet write is durable, is
        the writeback the reference performs anyway, and downstream reads
        get stats/pruning on the scored data)."""
        import os

        path = os.path.join(self._scored_root(), tag)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path), path

    def _scored_root(self) -> str:
        if self.scored_path is None:
            import tempfile

            self.scored_path = tempfile.mkdtemp(prefix=f"scored-{self.table_name}-")
        return self.scored_path

    def freshen_with_timeout(
        self,
        as_of_ms: int,
        timeout_ms: int | None = None,
        allow_partial: bool | None = None,
    ) -> tuple[DataFrame, bool]:
        """A10 batch semantics: materialize the freshened table within a
        wall-clock budget. Returns (table, fully_fresh?).

        Columns freshen one capsule at a time, each materialized to the
        scored-table location (the A8 writeback). On budget expiry the
        in-flight job group is cancelled and:

        - ``allow_partial=False`` (reference default,
          ``FreshKijiTableReaderBuilder.java:63-67``): the ORIGINAL stale
          table is returned — the stale fallback of
          ``InternalFreshKijiTableReader.java:686-724``.
        - ``allow_partial=True``: the table with every capsule that
          FINISHED inside the budget is returned — the partially-fresh
          branch (``:703-708``). Per-column granularity matches the
          reference, whose freshness futures are per attached column.

        A pandas producer also stops itself at the deadline inside its
        Python worker (``PandasProducer.make_map_fn(deadline=...)``), so
        the fallback returns shortly after the budget rather than when
        Spark's monitor thread gets round to destroying the worker.

        Each per-column write supersedes the previous one, which is deleted
        as soon as the next column materializes — only the newest write
        (the one the returned DataFrame reads) survives, so repeated calls
        don't accumulate table copies. Callers who want a DURABLE scored
        table should pass ``scored_path`` at construction; the lazily
        created default lives under the system temp dir and has temp-dir
        lifetime.
        """
        budget = (timeout_ms if timeout_ms is not None else self.timeout_ms) / 1000.0
        partial = self.allow_partial if allow_partial is None else allow_partial
        deadline = time.monotonic() + budget
        import shutil

        sc = self.spark.sparkContext
        caps = self._resolve_capsules()
        current = self.df
        prev_path: str | None = None
        for i, (column, cap) in enumerate(sorted(caps.items())):
            remaining = deadline - time.monotonic()
            if remaining <= 0:
                return (current, False) if partial else (self.df, False)
            group = f"freshen-{self.table_name}-{as_of_ms}-{i}"
            result: dict[str, object] = {}
            error: list[BaseException] = []

            # the producer's own deadline, as wall-clock time for its worker
            producer_deadline = time.time() + remaining + _PRODUCER_GRACE_S

            def run(cap=cap, i=i, group=group):
                try:
                    # interruptOnCancel stays FALSE (r15): thread-interrupting
                    # a pandas stage kills its Arrow workers mid-protocol, and
                    # a reuse pool then hands the poisoned worker to a later
                    # pandas stage (CancelledKeyException in PythonRunner —
                    # reproduced r-early; the old mitigation disabled worker
                    # reuse engine-wide, ~25-35% on Arrow-heavy paths).
                    # Instead a pandas producer stops itself in its worker at
                    # producer_deadline, just after the cancel below has set
                    # the kill flag: the task ends KILLED and the worker
                    # exits rather than returning to the pool. The caller
                    # still drains the group before going on, see
                    # _drain_job_group. Promptness is pinned by
                    # test_timeout_fallback_is_prompt; pool health by
                    # test_timeout_storm_then_arrow_stage.
                    sc.setJobGroup(group, f"freshen {cap.column}")
                    out = self._freshen_column(current, cap, as_of_ms, producer_deadline)
                    result["df"], result["path"] = self._materialize(
                        out, f"as_of={as_of_ms}/col={i}"
                    )
                except BaseException as e:  # noqa: BLE001 — cancelled jobs raise
                    error.append(e)

            t = threading.Thread(target=run, daemon=True)
            t.start()
            t.join(remaining)
            # a job that failed once its producer's deadline had passed was
            # stopped by that deadline: its worker raised before the cancel
            # landed, so this is a timeout, not a producer error
            if t.is_alive() or (
                error and time.monotonic() >= deadline + _PRODUCER_GRACE_S
            ):
                sc.cancelJobGroup(group)
                t.join(_CANCEL_JOIN_S)
                # drain barrier (r16): cancelJobGroup is async — wait for
                # the killed tasks to actually terminate before handing
                # control back, or the caller's next Python-worker stage
                # can race a worker's destruction (the poisoned-pool
                # CancelledKeyException) and late task completions spam
                # "non-existent accumulator" ERRORs after the cancelled
                # plan is GC'd.
                _drain_job_group(sc, group)
                return (current, False) if partial else (self.df, False)
            if error:
                raise error[0]
            current = result["df"]
            # the new write is self-contained, so the superseded previous
            # column's write (never the one `current` reads) can go now
            if prev_path is not None:
                shutil.rmtree(prev_path, ignore_errors=True)
            prev_path = result["path"]
        return current, True

    # -- reads (A1/A2) ----------------------------------------------------

    def get(self, entity_id, as_of_ms: int, columns: list[str] | None = None) -> DataFrame:
        """A1 point read: freshen then filter by key. The key predicate is
        pushed below the freshen projections by Catalyst, so only the one
        row's partition is read."""
        fresh_df = self.freshen(as_of_ms, columns)
        return fresh_df.filter(F.col(self.key_col) == F.lit(entity_id))

    def bulk_get(
        self, entity_ids: list, as_of_ms: int, columns: list[str] | None = None
    ) -> DataFrame:
        """A2 bulk read: freshen then filter by the key list. ``isin``
        compiles to a pushed ``In`` filter at the scan — for the small,
        driver-known key lists of a bulkGet that beats a semi-join (no
        second relation, no join at all). The reference's per-key thread
        fan-out (``InternalFreshKijiTableReader.java:767-806``) becomes
        Spark task parallelism over the surviving partitions."""
        fresh_df = self.freshen(as_of_ms, columns)
        return fresh_df.filter(F.col(self.key_col).isin(entity_ids))

    def scan(self, as_of_ms: int) -> DataFrame:
        """A3: the reference EXPLICITLY forbids scans on the fresh reader
        (``InternalFreshKijiTableReader.java:808-821``); in Spark a scan is
        the natural primitive, so we lift the restriction."""
        return self.freshen(as_of_ms)
