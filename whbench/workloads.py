"""The four warehouse workloads.

Each workload is a closed loop with one client: the client thread issues
its next operation only after the previous one returned.  Set-up lands
the seeded inputs (repeated ``input_reps`` times, so their time has a
median) and builds the base tables once.  Output checks that need extra
Spark jobs are deferred until after the measured window, so they never
add to its executor CPU.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_morrocan_banks_spark.functions.text import whitespace_tokens
from data_warehouse_morrocan_banks_spark.numerics import davg
from data_warehouse_morrocan_banks_spark.operators.dedup import (
    content_hash,
    dedup_keep_first,
)
from data_warehouse_morrocan_banks_spark.operators.similarity import (
    prefix_filter_jaccard_pairs,
    simhash_hamming_pairs,
)
from data_warehouse_morrocan_banks_spark.queries.llm_prep import prep_pipeline
from data_warehouse_morrocan_banks_spark.sources import snapshot_table as st
from data_warehouse_morrocan_banks_spark.star.marts import (
    bank_performance_mart,
    monthly_trends_mart,
)
from data_warehouse_morrocan_banks_spark.star.warehouse import (
    build_warehouse,
    enrich_reviews,
)

from . import gen
from .trace import stage_counters

# ---------------------------------------------------------------- helpers


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def remove_tree(path: str) -> None:
    """``shutil.rmtree`` with the unlinks spread over threads: on a
    file system that discards blocks on delete, each unlink of a flushed
    file waits ~10 ms, and a run leaves hundreds of them."""
    files, dirs = [], []
    for d, _, names in os.walk(path):
        dirs.append(d)
        files += [os.path.join(d, n) for n in names]
    with ThreadPoolExecutor(16) as ex:
        list(ex.map(os.unlink, files))
    for d in reversed(dirs):
        os.rmdir(d)


def rows_key(rows) -> Counter:
    """Order-insensitive multiset of collected rows."""
    return Counter(json.dumps(r.asDict(recursive=True), sort_keys=True,
                              default=str) for r in rows)


def fingerprint(df: DataFrame) -> tuple:
    """(row count, order-insensitive content hash) of ``df``.  It reads
    every row and every column, so computing it materializes ``df`` in
    full: nothing is pruned away."""
    cols = sorted(df.columns)
    h = F.xxhash64(F.to_json(F.struct(*cols))).cast("decimal(38,0)")
    r = df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(r["n"]), str(r["h"])


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ten samples beyond it.  Below 30 samples no percentile above the
    median has that support, and the maximum is reported instead."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0, 0.0
    if n < 30:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def row_counts(frames: dict[str, DataFrame]) -> dict[str, int]:
    """Row count of every frame, in one Spark job."""
    parts = [df.agg(F.count(F.lit(1)).alias("n"))
             .select(F.lit(name).alias("name"), "n")
             for name, df in frames.items()]
    return {r["name"]: r["n"]
            for r in reduce(DataFrame.unionByName, parts).collect()}


def span_counter(spans, key: str) -> list[float]:
    return [s.counters[key] for s in spans if s.counters]


class Recorder:
    """Walls per operation kind, and which operations failed.

    ``attempted`` counts timed operations; an operation fails when it
    raises or when any check registered against it fails."""

    def __init__(self):
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.attrs: dict[str, list[dict]] = defaultdict(list)
        self.attempted = 0
        self.failed_ops: set[int] = set()
        self._checks: list[tuple[int, str, object]] = []

    def new_op(self) -> int:
        self.attempted += 1
        return self.attempted

    def record(self, kind: str, seconds: float, **attrs) -> None:
        self.walls[kind].append(seconds)
        self.attrs[kind].append(attrs)

    def fail(self, op: int, why: str) -> None:
        print(f"[whbench] op {op} failed: {why}", file=sys.stderr)
        self.failed_ops.add(op)

    def check(self, op: int, what: str, fn) -> None:
        """Defer ``fn() -> bool`` to :meth:`run_checks`."""
        self._checks.append((op, what, fn))

    def run_checks(self) -> None:
        for op, what, fn in self._checks:
            try:
                ok = bool(fn())
            except Exception:
                ok = False
                traceback.print_exc()
            if not ok:
                self.fail(op, f"check {what}")
        self._checks.clear()

    @property
    def failed(self) -> int:
        return len(self.failed_ops)


class Workload:
    """One workload: ``inputs`` lands the seeded inputs, ``base_tables``
    builds what the operations start from, ``step`` issues one timed
    operation of kind ``headline``, ``layers`` fills the per-layer
    metrics of a traced run."""

    name = ""
    headline = ""
    input_reps = 3
    #: a batch job runs once per process, cold; None: operations until
    #: the window closes
    max_ops: int | None = None
    SIZES: tuple[str, ...] = ()  # size constants that ``scale`` multiplies

    def __init__(self, spark, seed: int, work: str, tracer, rec: Recorder,
                 scale: float = 1.0):
        for size in self.SIZES:
            # even, so batches that start at an even id keep their
            # duplicate review ids together
            setattr(self, size,
                    2 * max(1, round(getattr(self, size) * scale / 2)))
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.rec = rec
        self.rng = random.Random(f"whbench:{self.name}:{seed}")
        self.background_cpu_s = 0.0  # executor CPU not charged to ops

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def traced(self) -> bool:
        return self.tracer.enabled

    def inputs(self, rep: int) -> None:
        raise NotImplementedError

    def base_tables(self) -> None:
        pass

    def warmup(self) -> None:
        pass

    def step(self) -> None:
        raise NotImplementedError

    def verify(self) -> None:
        self.rec.run_checks()

    def layers(self, m: dict) -> None:
        raise NotImplementedError

    def timed_op(self, fn) -> None:
        """Run one operation; an exception fails it and the loop goes on."""
        op = self.rec.new_op()
        try:
            fn(op)
        except Exception:
            self.rec.fail(op, traceback.format_exc())


# ---------------------------------------------------------- nightly_build


class NightlyBuild(Workload):
    """Raw reviews landed as parquet go through ``build_warehouse`` and
    ``Warehouse.publish`` to a fresh root.  One operation is one refresh
    in a fresh process, as a nightly job runs: it is not warmed up."""

    name = "nightly_build"
    headline = "refresh"
    max_ops = 1
    SIZES = ("ROWS",)
    ROWS = 30_000
    DAYS = 730

    def inputs(self, rep: int) -> None:
        path = self.path(f"raw{rep}")
        gen.raw_reviews(self.spark, self.seed, 0, self.ROWS, 0, self.DAYS) \
            .write.parquet(path)
        self.raw = self.spark.read.parquet(path)
        self.roots: list[str] = []

    @staticmethod
    def frames(wh) -> dict:
        return {"dim_sentiment": wh.dim_sentiment, "dim_date": wh.dim_date,
                "dim_bank": wh.dim_bank, "dim_branch": wh.dim_branch,
                "fact_reviews": wh.fact_reviews,
                **{f"mart_{k}": v for k, v in wh.marts.items()}}

    def published_counts(self, root: str) -> dict:
        return row_counts(st.load_publication(self.spark, root))

    def refresh(self, op: int) -> None:
        root = self.path("pub", str(op))
        tr = self.tracer
        with tr.span("refresh"):
            t0 = time.perf_counter()
            with tr.span("build_warehouse") as b:
                tb = time.perf_counter()
                wh = build_warehouse(self.spark, self.raw, intermediate="cache")
                # pipeline stages run back to back from the build start
                for stage, info in wh.manifest.stages.items():
                    tr.add(f"build.{stage}", tb, tb + info["seconds"])
                    tb += info["seconds"]
                b["stages"] = {k: v["seconds"]
                               for k, v in wh.manifest.stages.items()}
            with tr.span("publish") as p:
                wh.publish(self.spark, root)
            wall = time.perf_counter() - t0
        if self.traced():
            p["written_mb"] = dir_bytes(root) / 2**20
        self.rec.record("refresh", wall)
        if not wh.quality.passed:
            self.rec.fail(op, f"quality {wh.quality.failures()}")
        self.roots.append(root)
        self.last = wh

    def step(self) -> None:
        self.timed_op(self.refresh)

    def verify(self) -> None:
        # every publication holds exactly the frames the last build made
        # (the input is the same for every refresh); the last build's
        # silver is still cached, so counting its frames is cheap
        if not self.roots:
            return super().verify()
        built = row_counts(self.frames(self.last))
        for i, root in enumerate(self.roots, 1):
            self.rec.check(i, "publication row counts",
                           lambda r=root: self.published_counts(r) == built)
        super().verify()

    def layers(self, m: dict) -> None:
        tr = self.tracer
        builds = tr.named("build_warehouse")
        for stage in ("preflight", "silver", "dims", "fact", "marts"):
            m[f"build.{stage}_s"] = med(b.attrs["stages"][stage]
                                        for b in builds)
        m["build.quality_s"] = med(b.seconds - sum(b.attrs["stages"].values())
                                   for b in builds)
        m["build.cpu_s"] = med(span_counter(builds, "cpu_s"))
        pubs = tr.named("publish")
        m["snapshot.publish_s"] = med(p.seconds for p in pubs)
        m["snapshot.publish_cpu_s"] = med(span_counter(pubs, "cpu_s"))
        m["snapshot.publish_written_mb"] = med(p.attrs["written_mb"]
                                               for p in pubs)
        if self.roots:
            m["snapshot.table_files"] = len(st.read(
                self.spark, os.path.join(self.roots[-1], "fact_reviews"))
                .inputFiles())
        m["refresh_s"] = med(self.rec.walls["refresh"])


# ----------------------------------------------------------- bi_dashboard


class BiDashboard(Workload):
    """Dashboard page views against a published warehouse: each page
    resolves the latest publication, then renders one tile per query
    template.  No enrichment runs after set-up."""

    name = "bi_dashboard"
    headline = "page"
    SIZES = ("ROWS",)
    ROWS = 30_000
    DAYS = 730
    TEMPLATES = ("bank_perf", "monthly", "branch_topk", "point", "mart")
    MARTS = ("mart_bank_performance", "mart_monthly_trends",
             "mart_geographic", "mart_topic_analysis", "mart_comprehensive")
    WINDOW_DAYS = 60
    DATA_SEED = 0
    CHECK_EVERY = 5  # every 5th page is re-derived without pruning

    def inputs(self, rep: int) -> None:
        # one fixed warehouse for every seed, which draws only the page
        # sequence: between seeds, the warehouse content alone moved page
        # latency by 15-20 % (file pruning luck on hash-partitioned files)
        self.raw_path = self.path(f"raw{rep}")
        gen.raw_reviews(self.spark, self.DATA_SEED, 0, self.ROWS, 0,
                        self.DAYS).write.parquet(self.raw_path)

    def base_tables(self) -> None:
        self.root = self.path("pub")
        self.wh = build_warehouse(self.spark,
                                  self.spark.read.parquet(self.raw_path))
        self.wh.publish(self.spark, self.root)
        self.fact = os.path.join(self.root, "fact_reviews")
        self.pages = 0

    def window(self, rng: random.Random) -> tuple[int, int]:
        """A 60-day window; only its position is drawn, so every tile
        reads about the same number of rows."""
        first = rng.randrange(0, self.DAYS - self.WINDOW_DAYS)
        lo, _ = gen.day_bounds(first)
        _, hi = gen.day_bounds(first + self.WINDOW_DAYS - 1)
        return lo, hi

    def point_key(self, rng: random.Random) -> str:
        # Zipf-skewed rank over review ids, newest reviews most popular
        rank = int(self.ROWS ** rng.random())
        return f"r{self.ROWS - rank}"

    def tile(self, t: str, page_no: int, v: dict, frames: dict,
             pruned: bool) -> DataFrame:
        """One dashboard tile; ``pruned=False`` is the reference form
        (unpruned ``read(...).filter(...)`` of the same version)."""
        spark, fact, fv = self.spark, self.fact, v["fact_reviews"]
        rng = random.Random(f"{self.seed}:{page_no}:{t}")

        def fact_window(lo, hi):
            if pruned:
                return st.read_pruned(spark, fact, "time", lo, hi, version=fv)
            return st.read(spark, fact, version=fv) \
                .filter(F.col("time").between(lo, hi))

        if t == "bank_perf":
            return bank_performance_mart(fact_window(*self.window(rng)))
        if t == "monthly":
            return monthly_trends_mart(fact_window(*self.window(rng)))
        if t == "branch_topk":
            per = fact_window(*self.window(rng)).groupBy("branch_key").agg(
                F.count(F.lit(1)).alias("n_reviews"),
                davg("rating", "avg_rating"))
            return (per.join(F.broadcast(frames["dim_branch"]), "branch_key")
                    .orderBy(F.col("n_reviews").desc(), F.col("branch_key"))
                    .limit(10))
        if t == "point":
            key = self.point_key(rng)
            if pruned:
                return st.read_point(spark, fact, "review_id", key, version=fv)
            return st.read(spark, fact, version=fv) \
                .filter(F.col("review_id") == key)
        return frames[self.MARTS[page_no % len(self.MARTS)]]

    def page(self, op: int) -> None:
        page_no = self.pages
        self.pages += 1
        tr = self.tracer
        results = []
        with tr.span("page"):
            t0 = time.perf_counter()
            with tr.span("load_publication", counters=False):
                tl = time.perf_counter()
                frames = st.load_publication(self.spark, self.root)
                versions = st.publications(self.root)[-1]["tables"]
                self.rec.record("load_publication", time.perf_counter() - tl)
            for t in self.TEMPLATES:
                with tr.span(f"bi.{t}") as a:
                    ts = time.perf_counter()
                    df = self.tile(t, page_no, versions, frames, pruned=True)
                    if self.traced():
                        tp = time.perf_counter()
                        df._jdf.queryExecution().executedPlan()
                        a["plan_ms"] = (time.perf_counter() - tp) * 1e3
                    rows = df.collect()
                self.rec.record(f"bi.{t}", time.perf_counter() - ts)
                results.append((t, rows))
            wall = time.perf_counter() - t0
        self.rec.record("page", wall)
        if self.traced():
            self.count_files(page_no, versions)
        if page_no % self.CHECK_EVERY:
            return
        for t, rows in results:
            def same(t=t, rows=rows):
                ref = self.tile(t, page_no, versions, frames, pruned=False)
                return rows_key(ref.collect()) == rows_key(rows)
            self.rec.check(op, f"tile {t}", same)

    def count_files(self, page_no: int, versions: dict) -> None:
        """Traced pages also count the files the fact reads touch; this
        runs after the page, outside its wall."""
        fv = versions["fact_reviews"]
        key = self.point_key(random.Random(f"{self.seed}:{page_no}:point"))
        count_point_files(self.spark, self.rec, self.fact, key, fv)
        lo, hi = self.window(random.Random(f"{self.seed}:{page_no}:bank_perf"))
        self.rec.record("range_files", 0.0, files=len(
            st.pruned_files(self.fact, "time", lo, hi, version=fv)))

    def warmup(self) -> None:
        """Two pages compile every tile's plans; their checks run too."""
        for _ in range(2):
            self.page(0)

    def step(self) -> None:
        self.timed_op(self.page)

    def verify(self) -> None:
        # the published marts equal the marts of the build that published them
        built = {f"mart_{k}": v for k, v in self.wh.marts.items()}
        frames = st.load_publication(self.spark, self.root)
        for name in self.MARTS:
            self.rec.check(1, f"published {name}",
                           lambda n=name: rows_key(frames[n].collect())
                           == rows_key(built[n].collect()))
        super().verify()

    def layers(self, m: dict) -> None:
        tr = self.tracer
        queries = []
        for t in self.TEMPLATES:
            spans = tr.named(f"bi.{t}")
            queries += spans
            m[f"bi.{t}.plan_ms"] = med(s.attrs["plan_ms"] for s in spans)
            m[f"bi.{t}.exec_ms"] = 1e3 * med(self.rec.walls[f"bi.{t}"])
        m["bi.tasks_per_query"] = med(span_counter(queries, "tasks"))
        m["bi.stages_per_query"] = med(span_counter(queries, "stages"))
        m["bi.executor_cpu_ms_per_query"] = 1e3 * med(
            span_counter(queries, "cpu_s"))
        tiles = [w for t in self.TEMPLATES for w in self.rec.walls[f"bi.{t}"]]
        m["bi_p50_ms"] = 1e3 * med(tiles)
        value, m["bi_tail_pct"] = tail(tiles)
        m["bi_tail_ms"] = 1e3 * value
        m["bi_n"] = len(tiles)
        m["snapshot.load_publication_ms"] = 1e3 * med(
            self.rec.walls["load_publication"])
        add_point_layers(m, self.rec)
        m["snapshot.table_files"] = len(st.read(self.spark, self.fact)
                                        .inputFiles())


def count_point_files(spark, rec: Recorder, path: str, key: str,
                      version: int) -> None:
    """Time the in-process point prune alone, and count the files it
    keeps against the files that really hold the key."""
    tp = time.perf_counter()
    files = st.pruned_files_point(spark, path, "review_id", key,
                                  version=version)
    rec.record("prune_point", time.perf_counter() - tp, files=len(files))
    hit = st.read_point(spark, path, "review_id", key, version=version) \
        .select(F.input_file_name()).distinct().count()
    rec.record("useful_files", 0.0, hit=hit, scanned=len(files))


def add_point_layers(m: dict, rec: Recorder) -> None:
    m["snapshot.prune_point_ms"] = 1e3 * med(rec.walls["prune_point"])
    m["snapshot.files_per_lookup"] = med(a["files"]
                                         for a in rec.attrs["prune_point"])
    m["snapshot.files_per_range_read"] = med(a["files"]
                                             for a in rec.attrs["range_files"])
    scanned = sum(a["scanned"] for a in rec.attrs["useful_files"])
    hit = sum(a["hit"] for a in rec.attrs["useful_files"])
    m["snapshot.useful_file_ratio"] = hit / scanned if scanned else 0.0


# ----------------------------------------------------------- daily_upsert


class DailyUpsert(Workload):
    """A silver snapshot table under daily writes beside reads.  One
    operation is one simulated day: enrich + append the day's batch,
    restate an earlier day, merge a small batch of corrections, with
    point lookups after each write and 7-day aggregates at the end.
    Every second day a compaction runs as background maintenance,
    outside the day's wall and its CPU."""

    name = "daily_upsert"
    headline = "day"
    SIZES = ("PER_DAY", "LATE_PER_RESTATE", "CORRECTIONS")
    BASE_DAYS = 30
    PER_DAY = 1_000
    LATE_PER_RESTATE = 50
    CORRECTIONS = 40
    LOOKUPS = 2          # point lookups after each write
    RANGE_READS = 2      # 7-day aggregates per day
    COMPACT_EVERY = 2
    CHECK_EVERY = 5      # every 5th read is re-derived without pruning
    LATE_BASE = 1_000_000_000
    BLOOM = ("review_id",)

    def inputs(self, rep: int) -> None:
        self.raw_path = self.path(f"raw{rep}")
        gen.raw_reviews(self.spark, self.seed, 0,
                        self.BASE_DAYS * self.PER_DAY, 0, self.BASE_DAYS) \
            .write.parquet(self.raw_path)

    def base_tables(self) -> None:
        base = self.spark.read.parquet(self.raw_path)
        self.table = self.path("silver")
        st.create(self.spark, self.table, enrich_reviews(base),
                  bloom=self.BLOOM)
        st.compact(self.spark, self.table, target_partitions=4,
                   sort_by=["time"], bloom=self.BLOOM)
        self.history = [("append", base)]
        self.day = self.BASE_DAYS
        self.after_compact = True
        self.reads_done = 0
        self.trace_s = 0.0   # traced-only extra work inside a day
        self.input_bytes = 0

    def warmup(self) -> None:
        """Day zero: the first restate, merge and reads compile their
        plans.  Write amplification counts from the end of it."""
        self.one_day(0)
        self.input_bytes = 0
        self.bytes0 = dir_bytes(self.table)

    def write(self, kind: str, fn) -> int:
        """Time one write; returns the bytes it added under the table."""
        before = dir_bytes(self.table)
        with self.tracer.span(kind) as a:
            t0 = time.perf_counter()
            fn()
            wall = time.perf_counter() - t0
        a["written"] = dir_bytes(self.table) - before
        self.rec.record(kind, wall)
        return a["written"]

    def reads(self, op: int, n_points: int, n_ranges: int = 0) -> None:
        spark, table, tr = self.spark, self.table, self.tracer
        v = st.history(table)[-1]["version"]
        n_ids = self.day * self.PER_DAY
        for _ in range(n_points):
            key = f"r{n_ids - int(n_ids ** self.rng.random())}"
            with tr.span("lookup"):
                t0 = time.perf_counter()
                rows = st.read_point(spark, table, "review_id", key,
                                     version=v).collect()
                wall = time.perf_counter() - t0
            self.rec.record("lookup", wall, after_compact=self.after_compact)
            self.check_read(op, "lookup", rows, lambda k=key, v=v: st.read(
                spark, table, version=v).filter(F.col("review_id") == k))
            if self.traced():
                t0 = time.perf_counter()
                count_point_files(spark, self.rec, table, key, v)
                self.trace_s += time.perf_counter() - t0
        for _ in range(n_ranges):
            first = self.rng.randrange(0, self.day - 7)
            lo, _ = gen.day_bounds(first)
            _, hi = gen.day_bounds(first + 6)

            def agg(df):
                return df.groupBy("bank_name").agg(
                    F.count(F.lit(1)).alias("n"), davg("rating", "avg_rating"))

            with tr.span("range_read"):
                t0 = time.perf_counter()
                rows = agg(st.read_pruned(spark, table, "time", lo, hi,
                                          version=v)).collect()
                wall = time.perf_counter() - t0
            self.rec.record("range_read", wall)
            self.check_read(op, "range read", rows,
                            lambda lo=lo, hi=hi, v=v: agg(st.read(
                                spark, table, version=v)
                                .filter(F.col("time").between(lo, hi))))
            if self.traced():
                self.rec.record("range_files", 0.0, files=len(
                    st.pruned_files(table, "time", lo, hi, version=v)))

    def check_read(self, op: int, what: str, rows, reference) -> None:
        """A seeded sample of reads must equal the unpruned read of the
        same version."""
        self.reads_done += 1
        if self.reads_done % self.CHECK_EVERY == 0:
            self.rec.check(op, what, lambda: rows_key(reference().collect())
                           == rows_key(rows))

    def one_day(self, op: int) -> None:
        spark, table, d = self.spark, self.table, self.day
        k = d - self.BASE_DAYS
        self.trace_s = 0.0
        with self.tracer.span("day"):
            t0 = time.perf_counter()
            raw = gen.raw_reviews(spark, self.seed, d * self.PER_DAY,
                                  self.PER_DAY, d, 1)

            def ingest():
                with self.tracer.span("enrich", counters=False):
                    te = time.perf_counter()
                    silver = enrich_reviews(raw)
                    self.rec.record("enrich", time.perf_counter() - te)
                st.append(spark, table, silver, bloom=self.BLOOM)

            self.input_bytes += self.write("append", ingest)
            self.history.append(("append", raw))
            self.reads(op, self.LOOKUPS)
            self.after_compact = False

            r = d - 1 - self.rng.randrange(7)
            lo, hi = gen.day_bounds(r)
            restated = gen.raw_reviews(
                spark, self.seed, r * self.PER_DAY, self.PER_DAY, r, 1,
                revision=k + 1).unionByName(gen.raw_reviews(
                    spark, self.seed, self.LATE_BASE + d * 10_000,
                    self.LATE_PER_RESTATE, r, 1))
            self.write("overwrite_range", lambda: st.overwrite_range(
                spark, table, enrich_reviews(restated), "time", lo, hi))
            self.history.append(("restate", (lo, hi), restated))
            self.reads(op, self.LOOKUPS)

            ids = gen.correction_ids(self.seed, d, 0, d * self.PER_DAY,
                                     self.CORRECTIONS)
            fixes = gen.raw_reviews(spark, self.seed, 0, d * self.PER_DAY, 0,
                                    d, revision=1_000 + k, ids=ids)
            self.write("merge", lambda: st.merge(
                spark, table, enrich_reviews(fixes), ["review_id"]))
            self.history.append(("merge", fixes))
            self.reads(op, self.LOOKUPS, self.RANGE_READS)
            wall = time.perf_counter() - t0 - self.trace_s
        self.rec.record("day", wall)
        self.day += 1
        if (self.day - self.BASE_DAYS) % self.COMPACT_EVERY == 0:
            self.compact()

    def compact(self) -> None:
        """Background maintenance, measured whether traced or not."""
        snap = self.tracer.snapshot
        before, bytes0 = snap(), dir_bytes(self.table)
        t0 = time.perf_counter()
        st.compact(self.spark, self.table, target_partitions=4,
                   sort_by=["time"], bloom=self.BLOOM)
        wall = time.perf_counter() - t0
        c = stage_counters(before, snap())
        cpu = c["cpu_s"] if c else 0.0
        self.background_cpu_s += cpu
        self.rec.record("compact", wall, cpu_s=cpu,
                        written=dir_bytes(self.table) - bytes0)
        self.after_compact = True

    def step(self) -> None:
        self.timed_op(self.one_day)

    #: raw columns that pass through enrichment unchanged
    KEPT = ("review_id", "place_id", "bank_name", "branch_name",
            "author_name", "rating", "text", "time", "collected_at")

    def expected(self) -> DataFrame:
        """The table's raw columns as the history should have left them,
        replayed with plain DataFrame operations on the raw batches: each
        batch keeps, per ``review_id``, its latest-collected row (ties:
        smallest text), the documented silver dedup rule."""
        w = Window.partitionBy("review_id").orderBy(
            F.col("collected_at").desc(), F.col("text"))

        def dedup(raw):
            return raw.withColumn("_n", F.row_number().over(w)) \
                .filter(F.col("_n") == 1).select(*self.KEPT)

        out = None
        for h in self.history:
            if h[0] == "append":
                new = dedup(h[1])
                out = new if out is None else out.unionByName(new)
            elif h[0] == "restate":
                lo, hi = h[1]
                out = out.filter(~F.col("time").between(lo, hi)) \
                    .unionByName(dedup(h[2]))
            else:
                fix = dedup(h[1])
                out = out.join(fix.select("review_id"), "review_id",
                               "left_anti").unionByName(fix)
        return out

    def verify(self) -> None:
        super().verify()
        got = fingerprint(st.read(self.spark, self.table).select(*self.KEPT))
        want = fingerprint(self.expected())
        if got != want:
            self.rec.fail(max(1, self.rec.attempted),
                          f"final table {got} != expected {want}")

    def layers(self, m: dict) -> None:
        tr = self.tracer
        m["build.silver_s"] = med(self.rec.walls["enrich"])
        for op in ("append", "overwrite_range", "merge"):
            spans = tr.named(op)
            m[f"snapshot.{op}_s"] = med(self.rec.walls[op])
            m[f"snapshot.{op}_cpu_s"] = med(span_counter(spans, "cpu_s"))
            m[f"snapshot.{op}_written_mb"] = med(
                s.attrs["written"] for s in spans) / 2**20
        compacts = self.rec.attrs["compact"]
        m["snapshot.compact_s"] = med(self.rec.walls["compact"])
        m["snapshot.compact_cpu_s"] = med(a["cpu_s"] for a in compacts)
        m["snapshot.compact_bytes_rewritten"] = med(a["written"]
                                                    for a in compacts)
        m["ingest_s"] = med(self.rec.walls["append"])
        m["restate_s"] = med(self.rec.walls["overwrite_range"])
        m["merge_s"] = med(self.rec.walls["merge"])
        lookups = self.rec.walls["lookup"]
        m["lookup_p50_ms"] = 1e3 * med(lookups)
        value, m["lookup_tail_pct"] = tail(lookups)
        m["lookup_tail_ms"] = 1e3 * value
        m["lookup_n"] = len(lookups)
        m["snapshot.post_compact_lookup_ms"] = 1e3 * med(
            w for w, a in zip(lookups, self.rec.attrs["lookup"])
            if a["after_compact"])
        add_point_layers(m, self.rec)
        m["snapshot.table_files"] = len(st.read(self.spark, self.table)
                                        .inputFiles())
        written = dir_bytes(self.table) - self.bytes0
        m["write_amp"] = m["snapshot.bytes_written_per_input_byte"] = (
            written / self.input_bytes if self.input_bytes else 0.0)


# --------------------------------------------------------------- curation


class Curation(Workload):
    """A seeded Zipf-vocabulary corpus through the four curation
    operators.  One operation is the whole chain, run once per process
    as a batch job runs: it is not warmed up.  Each output is materialized
    by its order-insensitive fingerprint, which reads every row and
    column and doubles as the output check."""

    name = "curation"
    headline = "chain"
    max_ops = 1
    SIZES = ("DOCS",)
    DOCS = 8_000
    EXACT_PCT = 5
    NEAR_PCT = 20
    THRESHOLD = 0.9
    OPS = ("exact", "jaccard", "simhash", "prep")

    def inputs(self, rep: int) -> None:
        path = self.path(f"docs{rep}")
        gen.zipf_docs(self.spark, self.seed, self.DOCS, self.EXACT_PCT,
                      self.NEAR_PCT).write.parquet(path)
        self.docs = self.spark.read.parquet(path)
        self.out: dict | None = None

    def operator(self, name: str) -> DataFrame:
        d = self.docs
        if name == "exact":
            return dedup_keep_first(d.withColumn("h", content_hash("text")),
                                    ["h"], [F.col("doc_id")]).drop("h")
        if name == "jaccard":
            return prefix_filter_jaccard_pairs(d, "text", "doc_id", "lang",
                                               threshold=self.THRESHOLD)
        if name == "simhash":
            return simhash_hamming_pairs(
                d, "doc_id", whitespace_tokens(F.lower(F.col("text"))),
                max_hamming=3)
        return prep_pipeline(d)

    def chain(self, op: int) -> None:
        out = {}
        tr = self.tracer
        with tr.span("chain"):
            t0 = time.perf_counter()
            for name in self.OPS:
                with tr.span(f"curation.{name}") as a:
                    ts = time.perf_counter()
                    out[name] = fingerprint(self.operator(name))
                    self.rec.record(f"curation.{name}",
                                    time.perf_counter() - ts)
                    a["rows"] = out[name][0]
            wall = time.perf_counter() - t0
        self.rec.record("chain", wall)
        self.out = out

    def step(self) -> None:
        self.timed_op(self.chain)

    def bad_jaccard_pairs(self) -> int:
        """Emitted pairs that fail re-verification from the documents'
        token sets (Jaccard below threshold, cross-language, unordered)."""
        toks = self.docs.select(
            "doc_id", "lang",
            F.array_distinct(whitespace_tokens(F.lower(F.col("text"))))
            .alias("t"))
        a = toks.select(F.col("doc_id").alias("id_a"),
                        F.col("lang").alias("la"), F.col("t").alias("ta"))
        b = toks.select(F.col("doc_id").alias("id_b"),
                        F.col("lang").alias("lb"), F.col("t").alias("tb"))
        pairs = self.operator("jaccard").select("id_a", "id_b") \
            .join(a, "id_a").join(b, "id_b")
        inter = F.size(F.array_intersect("ta", "tb"))
        union = F.size(F.array_union("ta", "tb"))
        bad = (inter < F.lit(self.THRESHOLD) * union) | \
            (F.col("la") != F.col("lb")) | (F.col("id_a") >= F.col("id_b"))
        return pairs.filter(bad).count()

    def exact_duplicates(self) -> int:
        """Documents the generator made exact copies of their pair mate."""
        return self.docs.groupBy("text").count() \
            .select(F.sum(F.col("count") - 1)).first()[0]

    def verify(self) -> None:
        out = self.out
        if out is not None:
            self.rec.check(1, "jaccard pairs re-verify",
                           lambda: self.bad_jaccard_pairs() == 0)
            self.rec.check(1, "exact dedup keeps one per text",
                           lambda: out["exact"][0]
                           == self.DOCS - self.exact_duplicates())
            self.rec.check(1, "near duplicates found",
                           lambda: out["jaccard"][0] > 0
                           and out["simhash"][0] > 0)
        super().verify()

    def layers(self, m: dict) -> None:
        tr = self.tracer
        for name in self.OPS:
            spans = [s for s in tr.named(f"curation.{name}") if s.counters]
            m[f"curation.{name}_s"] = med(self.rec.walls[f"curation.{name}"])
            m[f"curation.{name}_cpu_s"] = med(s.counters["cpu_s"]
                                              for s in spans)
            m[f"curation.{name}_shuffle_mb"] = med(
                s.counters["shuffle_write_mb"] for s in spans)
            m[f"curation.{name}_spill_mb"] = med(
                s.counters["spill_mem_mb"] + s.counters["spill_disk_mb"]
                for s in spans)
            m[f"curation.{name}_useful_ratio"] = med(
                s.attrs["rows"] / s.counters["shuffle_write_records"]
                for s in spans if s.counters["shuffle_write_records"])
        if self.out:
            m["curation.dup_removed_ratio"] = \
                1 - self.out["exact"][0] / self.DOCS
        m["curation_s"] = med(self.rec.walls["chain"])


WORKLOADS = {w.name: w for w in (NightlyBuild, BiDashboard, DailyUpsert,
                                 Curation)}
