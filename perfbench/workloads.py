"""The workloads and the loop that drives them.

Every workload runs the same loop; the ``Workload`` record sets its shape.

* The writer is a closed loop: the next micro-batch is handed to
  ``replay_batch`` only after the previous one has committed (and, where
  due, been compacted and vacuumed, and the consumers have had their
  round).
* The reader is an open loop, the same for every workload: one sender
  thread issues single-key ``read_keys`` lookups every
  ``LOOKUP_INTERVAL_S`` seconds (keys drawn with the log's own hot-key
  skew) and full snapshot scans every ``SCAN_INTERVAL_S`` seconds into a
  small thread pool, whatever the state of earlier requests. Each latency
  is timed from the moment the request was due.
* The consumers are ``sync_token_index`` and ``sync_index`` (each
  workload names the indexes it keeps). After every ``SYNC_EVERY``-th
  batch the writer's loop runs a consumer round: every index is synced,
  side by side, up to the latest commit. After the deadline one last round
  covers the batches since the previous one. A batch is fresh when the
  round after it ends, so its freshness is the time from its hand-off to
  the end of that round.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import functions as F

from . import stats
from .fixtures import (EVENTS_PER_FILE, HOT_MASS, N_DOCS, Fixtures, digest_rows,
                       table_columns)

N_BUCKETS = 8
SETUP_REPS = 3
READER_THREADS = 4
# The reader's fixed schedule, the same for every workload. At the unloaded
# request times measured on a 4-core host (lookup ~0.6 s, scan ~0.13 s) it
# offers ~0.86 busy reader threads: under one of the pool's four, so the
# reader alone never queues (design.json, "reader").
LOOKUP_INTERVAL_S = 1.0
SCAN_INTERVAL_S = 0.5
UNLOADED_PROBES = 2
# micro-batches of the log applied once, untimed, at the end of set-up
WARMUP_BATCHES = 2
# A consumer round after every SYNC_EVERY batches: a round costs about two
# to three 2k-event batches unloaded, so the consumers take about as much
# of the writer's time as the batches themselves (design.json, "consumers").
SYNC_EVERY = 3
# vacuum keeps this many snapshots, more than a run commits, so the
# consumers' change window is never vacuumed
VACUUM_RETAIN = 64


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    profile: str            # log profile (fixtures.HOT_MASS)
    source_format: str      # "text" or "parquet" (the columnar twin)
    write_mode: str         # "cow" or "mor"
    preload_files: int      # log prefix loaded copy-on-write during set-up
    indexes: tuple          # derived indexes kept by the consumers
    compact_every: int = 0  # batches between compactions (0: never)
    vacuum_every: int = 0   # batches between vacuums (0: never)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="tail_mor_read",
            why="small skewed merge-on-read batches, compaction every 3rd, "
                "open-loop lookups and scans, token index kept in sync: "
                "per-batch cost, MoR resolve and compaction dominate; readers "
                "pay for writes",
            profile="skewed", source_format="text", write_mode="mor",
            preload_files=5, indexes=("token_index",),
            compact_every=3, vacuum_every=6,
        ),
        Workload(
            name="consumers_columnar",
            why="uniform-key parquet change feed, copy-on-write, token and "
                "near-dup indexes synced every 3rd batch, same open-loop "
                "reader: consumer sync dominates and no text is parsed",
            profile="uniform", source_format="parquet", write_mode="cow",
            preload_files=0,
            indexes=("token_index", "neardup_index"),
        ),
    )
}


def _lookup_keys(seed: int, profile: str):
    """Endless single-key lookups with the generator's key skew: a
    ``HOT_MASS[profile]`` share of them hit the hottest 1% of documents."""
    n_hot = max(1, int(N_DOCS * 0.01))
    rng = random.Random(seed * 7919 + 1)
    while True:
        if rng.random() < HOT_MASS[profile]:
            i = rng.randrange(n_hot)
        else:
            i = n_hot + rng.randrange(N_DOCS - n_hot)
        yield f"doc-{i:06d}"


class Run:
    """One run of one workload: set-up, the timed phase (writer, reader and
    consumers side by side) and the correctness gate. ``end_to_end`` turns
    the samples into metrics; ``details`` collects what the result line has
    no room for."""

    def __init__(self, spark, wl: Workload, seed: int, seconds: float,
                 tracer, work_dir: str, cache_dir: str, cores: int):
        from concept_catalog_etl_spark.operators.merge import MergeConfig

        self.spark, self.wl, self.seed, self.seconds = spark, wl, seed, seconds
        self.tracer, self.work, self.cores = tracer, work_dir, cores
        self.cfg = MergeConfig(write_mode=wl.write_mode)
        self.fx = Fixtures(cache_dir, wl.profile, seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.details: dict = {}
        self._lock = threading.Lock()
        self._consumers = ThreadPoolExecutor(max_workers=2,
                                             thread_name_prefix="consumer")

    def close(self) -> None:
        self._consumers.shutdown(wait=True)

    # ------------------------------------------------------------ inputs
    def prepare_inputs(self) -> None:
        """Build or load the cached fixtures (not part of set-up time). Each
        micro-batch is one log file (``EVENTS_PER_FILE`` events); the files
        after the preload are the batches, the first ones the warm-up."""
        first = self.wl.preload_files
        files = self.fx.log_files(self.spark)
        self.preload = files[:first]
        if self.wl.source_format == "parquet":
            files = self.fx.columnar_groups(self.spark)
        self.inputs = files[first:]
        self.distinct = self.fx.distinct_keys(self.spark)[first:]

    # ------------------------------------------------------------ tables
    def _new_tables(self, tag: str):
        """→ (dir, table, {index name: index table}) under a fresh dir."""
        from concept_catalog_etl_spark.lakehouse import LakeTable, TableSchema
        from concept_catalog_etl_spark.operators.token_index import (
            token_index_schema,
        )

        schemas = {
            "token_index": token_index_schema(),
            "neardup_index": TableSchema.create(
                [("doc_id", "string"), ("mh", "array<bigint>")], key="doc_id"),
        }
        root = os.path.join(self.work, tag)
        shutil.rmtree(root, ignore_errors=True)
        table = LakeTable.create(
            os.path.join(root, "table"),
            TableSchema.create(table_columns(), key="doc_id"),
            n_buckets=N_BUCKETS,
        )
        indexes = {
            name: LakeTable.create(os.path.join(root, name), schemas[name],
                                   n_buckets=N_BUCKETS)
            for name in self.wl.indexes
        }
        return root, table, indexes

    # ------------------------------------------------------------ engine calls
    def _apply(self, table, bi: int) -> None:
        from concept_catalog_etl_spark.streaming.replay import replay_batch

        with self.tracer.span("streaming.replay", "replay_batch", batch=bi):
            replay_batch(self.spark, [self.inputs[bi]], table, files_per_batch=1,
                         cfg=self.cfg, start_batch_id=bi + 1,
                         source_format=self.wl.source_format)

    def _sync(self) -> None:
        """Bring every derived index up to the table's current version, the
        consumers side by side."""
        from concept_catalog_etl_spark.operators.neardup_index import sync_index
        from concept_catalog_etl_spark.operators.token_index import (
            sync_token_index,
        )

        def token_index(index):
            with self.tracer.span("operators.token_index", "sync_token_index"):
                sync_token_index(self.spark, self.table, index)

        def neardup_index(index):
            with self.tracer.span("operators.neardup_index", "sync_index") as s:
                res = sync_index(self.spark, self.table, index)
            s["changed_docs"] = res.get("rows_written", 0)

        syncs = {"token_index": token_index, "neardup_index": neardup_index}
        futs = [self._consumers.submit(syncs[name], index)
                for name, index in self.indexes.items()]
        for f in futs:
            f.result()

    def _lookup(self, table, key: str) -> int:
        return len(table.read_keys(self.spark, [key]).collect())

    def _scan(self, table) -> None:
        table.read(self.spark).write.format("noop").mode("overwrite").save()

    # ------------------------------------------------------------ set-up
    def setup(self) -> float:
        """Create the tables and preload them, ``SETUP_REPS`` times on fresh
        tables, then warm up once on the last ones: the first micro-batches
        (part of the log, so the table stays comparable with the oracle) run
        with the reader and a consumer round, as in the timed phase, then
        a compaction where the workload compacts. No vacuum: the batch after
        one runs slower, and the timed phase starts from the state the
        compaction cadence leaves. Returns the
        median repetition time plus the warm-up time. After the warm-up,
        ``UNLOADED_PROBES`` lookups and scans run one at a time, outside
        setup_s: the reader's unloaded service times, from which the detail
        line derives its offered load."""
        from concept_catalog_etl_spark.operators.merge import MergeConfig
        from concept_catalog_etl_spark.streaming.replay import replay_batch

        reps = []
        for rep in range(SETUP_REPS):
            if rep:
                shutil.rmtree(self.root, ignore_errors=True)
            t0 = time.time()
            self.root, self.table, self.indexes = self._new_tables(f"rep{rep}")
            if self.preload:
                replay_batch(self.spark, self.preload, self.table,
                             files_per_batch=len(self.preload),
                             cfg=MergeConfig(write_mode="cow"), start_batch_id=0)
            reps.append(time.time() - t0)
        t0 = time.time()
        keys = _lookup_keys(self.seed + 1000, self.wl.profile)
        self._phase(0, math.inf, WARMUP_BATCHES, keys)
        if self.failed:
            raise RuntimeError(f"warm-up failed: {self.errors}")
        if self.wl.compact_every:
            self.table.compact(self.spark)
        warmup = time.time() - t0
        self.details["setup_reps_s"] = reps
        self.details["warmup_s"] = warmup
        self._probe_unloaded(keys)
        return stats.median(reps) + warmup

    def _probe_unloaded(self, keys) -> None:
        """Time single requests with nothing else running. The reader's
        offered load is its request rates times these service times, in
        busy reader threads; its utilisation is that over the pool size."""
        lat = {"lookup": [], "scan": []}
        for _ in range(UNLOADED_PROBES):
            t0 = time.time()
            self._lookup(self.table, next(keys))
            lat["lookup"].append(time.time() - t0)
            t0 = time.time()
            self._scan(self.table)
            lat["scan"].append(time.time() - t0)
        lookup, scan = stats.median(lat["lookup"]), stats.median(lat["scan"])
        load = lookup / LOOKUP_INTERVAL_S + scan / SCAN_INTERVAL_S
        self.details.update(
            lookup_unloaded_s=lookup, scan_unloaded_s=scan,
            reader_offered_load=load,
            reader_offered_utilisation=load / READER_THREADS)

    # ------------------------------------------------------------ reader
    def _reader(self, start: float, deadline: float, stop: threading.Event,
                keys, out: list, lateness: list):
        tracer = self.tracer

        def op(kind: str, due: float, key: str | None) -> None:
            ok, n = True, 0
            try:
                if kind == "lookup":
                    with tracer.span("lakehouse.table", "read_keys"):
                        n = self._lookup(self.table, key)
                else:
                    with tracer.span("lakehouse.table", "read"):
                        self._scan(self.table)
                    if tracer.enabled:
                        self._sample_layout()
            except Exception as e:  # a failed read is counted, not fatal
                ok = False
                self._fail(f"{kind}: {type(e).__name__}: {e}")
            done = time.time()
            with self._lock:
                out.append((kind, due, done - due, ok, n))

        with ThreadPoolExecutor(max_workers=READER_THREADS,
                                thread_name_prefix="reader") as pool:
            futs, n_lookup, n_scan = [], 0, 0
            while True:
                # two fixed schedules, merged; scans are offset half a period
                due_lookup = start + n_lookup * LOOKUP_INTERVAL_S
                due_scan = start + (n_scan + 0.5) * SCAN_INTERVAL_S
                kind, due = (("lookup", due_lookup) if due_lookup <= due_scan
                             else ("scan", due_scan))
                if due >= deadline or stop.wait(max(0.0, due - time.time())):
                    break
                lateness.append(time.time() - due)
                if kind == "lookup":
                    futs.append(pool.submit(op, kind, due, next(keys)))
                    n_lookup += 1
                else:
                    futs.append(pool.submit(op, kind, due, None))
                    n_scan += 1
            for f in futs:
                f.result()

    def _sample_layout(self) -> None:
        files = self.table.files()
        delta = sum(1 for f in files if f.get("delta"))
        size = sum(os.path.getsize(os.path.join(self.table.root, f["path"]))
                   for f in files)
        with self._lock:
            self.details.setdefault("layout_samples", []).append(
                (len(files) - delta, delta, size))

    def _fail(self, msg: str) -> None:
        with self._lock:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(msg)

    # ------------------------------------------------------------ consumers
    def _consume(self, pending: list, fresh: list) -> None:
        """One consumer round: sync every index up to the latest commit; each
        batch handed over since the last round is fresh when it ends."""
        with self._lock:
            self.attempted += len(self.indexes)
        try:
            with self.tracer.span("bench", "consumers"):
                self._sync()
        except Exception as e:
            self._fail(f"sync: {type(e).__name__}: {e}")
        else:
            done = time.time()
            fresh.extend(done - t_hand for t_hand in pending)
        pending.clear()

    # ------------------------------------------------------------ phases
    def _phase(self, first: int, deadline: float, max_batches: float, keys) -> dict:
        """The writer's closed loop from batch ``first``, with a consumer
        round after every ``SYNC_EVERY``-th batch, beside the open-loop
        reader, until ``deadline`` or ``max_batches`` batches; then one last
        consumer round for the batches since the previous one. The reader
        sends until the deadline or until the writer stops."""
        wl, tracer = self.wl, self.tracer
        reads: list = []
        lateness: list = []
        applies, pending, fresh = [], [], []
        stop = threading.Event()
        start = time.time()
        reader = threading.Thread(
            target=self._reader,
            args=(start, deadline, stop, keys, reads, lateness),
            name="reader-sender")
        reader.start()
        bi = first
        try:
            while time.time() < deadline and bi - first < max_batches:
                if bi == len(self.inputs):
                    # the window is sized so that this does not happen; if
                    # the engine outgrows it the run says so
                    with self._lock:
                        self.attempted += 1
                    self._fail(f"inputs ran out after {bi} batches, "
                               f"{deadline - time.time():.1f} s before the deadline")
                    self.details["inputs_exhausted"] = True
                    break
                t_hand = time.time()
                n = bi - first + 1
                with self._lock:
                    self.attempted += 1
                try:
                    with tracer.span("bench", "batch", batch=bi):
                        self._apply(self.table, bi)
                        # committed and visible: maintenance after the
                        # commit holds up the next batch, not this one
                        applies.append(time.time() - t_hand)
                        if wl.compact_every and n % wl.compact_every == 0:
                            with self._lock:
                                self.attempted += 1
                            self.table.compact(self.spark)
                        if wl.vacuum_every and n % wl.vacuum_every == 0:
                            with self._lock:
                                self.attempted += 1
                            self.table.vacuum(retain_last=VACUUM_RETAIN)
                except Exception as e:
                    self._fail(f"batch {bi}: {type(e).__name__}: {e}")
                    break
                pending.append(t_hand)
                bi += 1
                if n % SYNC_EVERY == 0:
                    self._consume(pending, fresh)
        finally:
            end = time.time()
            stop.set()
            if pending:
                self._consume(pending, fresh)
            consumers_done = time.time()
            reader.join()
        with self._lock:
            self.attempted += len(reads)
        return {"start": start, "end": end, "consumers_done": consumers_done,
                "next_batch": bi, "applies": applies, "reads": reads,
                "lateness": lateness, "fresh": fresh}

    def timed(self) -> None:
        """The measured phase: ``_phase`` from the first batch after the
        warm-up until ``seconds`` have passed."""
        self.details.pop("layout_samples", None)  # the warm-up's scans
        ph = self._phase(WARMUP_BATCHES, time.time() + self.seconds,
                         math.inf, _lookup_keys(self.seed, self.wl.profile))
        applies, reads, lateness = ph["applies"], ph["reads"], ph["lateness"]
        start, end = ph["start"], ph["end"]
        self.applied_batches = ph["next_batch"]
        self.window = (start, end)
        # per-layer totals also cover the last consumer round and the
        # reader's last requests
        self.trace_window = (start, time.time())
        self.applies, self.reads = applies, reads
        self.events = len(applies) * EVENTS_PER_FILE
        self.freshness = ph["fresh"]
        self.details.update(
            batches_timed=len(applies), events_timed=self.events,
            reader_lateness_p50_s=stats.median(lateness) if lateness else 0.0,
            reader_lateness_max_s=max(lateness) if lateness else 0.0,
            reads=len(reads), timed_wall_s=end - start,
            last_round_s=ph["consumers_done"] - end,
            reader_busy_share=sum(lat for _, _, lat, _, _ in reads)
            / (READER_THREADS * (end - start)),
            batch_apply_s=[round(x, 3) for x in applies],
            freshness_s=[round(x, 3) for x in self.freshness],
        )

    # ------------------------------------------------------------ metrics
    def end_to_end(self, setup_s: float, peak_rss_mb: float) -> dict:
        lookups = [lat for kind, _, lat, ok, _ in self.reads if kind == "lookup" and ok]
        scans = [lat for kind, _, lat, ok, _ in self.reads if kind == "scan" and ok]
        wall = self.window[1] - self.window[0]
        tail_p, tail_v = stats.tail(self.applies) if self.applies else (0.0, 0.0)
        lk_p, lk_v = stats.tail(lookups) if lookups else (0.0, 0.0)
        self.details.update(batch_apply_tail_pct=tail_p, lookup_tail_pct=lk_p,
                            batch_samples=len(self.applies),
                            freshness_samples=len(self.freshness),
                            lookup_samples=len(lookups), scan_samples=len(scans))
        m = {
            "setup_s": setup_s,
            "ingest_events_per_s": self.events / wall if wall > 0 else 0.0,
            "batch_apply_p50_s": stats.median(self.applies) if self.applies else 0.0,
            "batch_apply_tail_s": tail_v,
            "lookup_p50_s": stats.median(lookups) if lookups else 0.0,
            "lookup_tail_s": lk_v,
            "scan_p50_s": stats.median(scans) if scans else 0.0,
            "derived_fresh_p50_s": stats.median(self.freshness) if self.freshness else 0.0,
            "table_bytes_per_row": self.details.get("table_bytes_per_row", 0.0),
            "peak_rss_mb": peak_rss_mb,
            "ops_ok_frac": 1.0 - self.failed / max(self.attempted, 1),
        }
        return m

    # ------------------------------------------------------------ gate
    def check(self) -> bool:
        """Correctness gate, outside the timed region: the table equals the
        oracle's replay of the same log prefix, and each derived index
        equals its rebuild from the final table."""
        from concept_catalog_etl_spark.operators.neardup_index import sync_index
        from concept_catalog_etl_spark.operators.token_index import (
            rebuild_token_index,
        )

        ok = True
        n_files = self.wl.preload_files + self.applied_batches
        want = self.fx.oracle_digest(n_files)
        rows = self.table.read(self.spark).select(*[c for c, _ in table_columns()]).collect()
        got = digest_rows(r.asDict() for r in rows)
        if got != want:
            ok = False
            self.errors.append(f"table != oracle after {n_files} files: {got} vs {want}")
        # references: the token index's full rebuild, and a fresh sync of the
        # near-dup index over the whole table
        build = {"token_index": rebuild_token_index, "neardup_index": sync_index}
        cols = {"token_index": ["pk", "token", "doc_id", "n_occur"],
                "neardup_index": ["doc_id", "mh"]}
        _, _, refs = self._new_tables("check")
        pool = self._consumers
        for f in [pool.submit(build[name], self.spark, self.table, ref)
                  for name, ref in refs.items()]:
            f.result()
        for name, ref in refs.items():
            fa, fb = pool.map(lambda t: _fingerprint(self.spark, t, cols[name]),
                              (self.indexes[name], ref))
            if fa != fb:
                ok = False
                self.errors.append(f"{name} != rebuild: {fa} vs {fb}")
        # storage at rest: for merge-on-read, the snapshot after one more
        # compaction, so the figure does not swing with where the run
        # stopped in the cadence
        if self.wl.compact_every:
            self.table.compact(self.spark)
        live = want["rows"]
        self.details["live_rows"] = live
        self.details["table_bytes_per_row"] = sum(
            os.path.getsize(os.path.join(self.table.root, f["path"]))
            for f in self.table.files()) / max(live, 1)
        self.details["oracle_files"] = n_files
        return ok


def _fingerprint(spark, table, cols: list[str]) -> tuple:
    row = table.read(spark).agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])).alias("x"),
        F.sum(F.xxhash64(*[F.col(c) for c in cols]) % 1_000_003).alias("s"),
    ).first()
    return (row["n"], row["x"], row["s"])
