"""Workloads of the product-pipeline benchmark.

Each workload generates its inputs from the seed with the repository's own
generator (``sources.pages.gen_row``), warms the session up, then drives
the product entry points in a closed loop: one client, and the next call
starts only after the previous one returned.

* ``batch_default``: ``plans.pipeline.run_batch`` with ``DEFAULT_PROFILE``
  over a SnapshotTable of seeded pages.  One call is one operation.
* ``state_ticks``: a SnapshotTable takes one append per tick, and each
  append is followed by one ``streaming.incremental.process_increment``
  with ``history_dedup=True``.  One tick is one operation.  From the second
  tick on, a share of every increment re-sends pages that an earlier tick
  already processed, so the history dedup has real work to do.

Every operation is timed in wall seconds and in CPU seconds of the process
tree (``ctx.cpu``), and its output is checked; an operation fails if it
raises or fails a check.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import timedelta

from pyspark.sql import functions as F

from cfht2caom2_spark.config import DEFAULT_PROFILE
from cfht2caom2_spark.plans.pipeline import run_batch
from cfht2caom2_spark.sources.pages import gen_row
from cfht2caom2_spark.sources.table import SnapshotTable
from cfht2caom2_spark.streaming.incremental import (process_increment,
                                                    read_bookmark)
from tests.reference_impl import reference_labels

# Sizes keep one whole run, JVM start and warm-up included, near a minute on
# 4 cores (README.md, "Sizes and time budget").

# batch_default sizes
BATCH_ROWS = 3000
# rows of the input, from row 0, that are labeled by the reference labeler
LABELED_ROWS = 400
MIN_BATCH_OPS = 2

# state_ticks sizes
TICK_ROWS = 400
# the first tick's rows are all labeled
TICK_LABELED_ROWS = min(LABELED_ROWS, TICK_ROWS)
RESEND_SHARE = 0.10
MAX_TICKS = 3
# the first tick (no history yet) is the warm-up; the first tick with
# history is timed, though it costs about 1.25x the next one
WARM_TICKS = 1
MIN_TIMED_TICKS = 2
# rows of tick k use ids from k * TICK_ID_STRIDE, so urls never collide
# across ticks and the generator's row classes (id % 100) line up
TICK_ID_STRIDE = 1_000_000

MIN_F1 = 0.99
DEDUP_RULES = {"exact_duplicate", "near_duplicate"}


def elapsed(t0: float) -> float:
    return time.perf_counter() - t0


@dataclass
class Ops:
    """Attempted / failed operations and the reasons for each failure."""
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def record(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.append({"op": name, "problems": problems[:10]})

    def call(self, name: str, fn, *args, **kwargs):
        """Run one operation; an exception counts it as failed."""
        try:
            return fn(*args, **kwargs), None
        except Exception:  # the benchmark keeps going and reports the failure
            tb = traceback.format_exc()
            self.record(name, [tb.strip().splitlines()[-1]])
            print(tb, file=sys.stderr)
            return None, tb


# -- checks -------------------------------------------------------------------

def keep_f1(pairs) -> float:
    """F1 of the keep class over (want, got) pairs."""
    tp = sum(1 for w, g in pairs if w and g)
    fp = sum(1 for w, g in pairs if g and not w)
    fn = sum(1 for w, g in pairs if w and not g)
    precision = tp / max(tp + fp, 1)
    recall = tp / max(tp + fn, 1)
    return 2 * precision * recall / max(precision + recall, 1e-9)


def row_index(url_col="url"):
    return F.regexp_extract(F.col(url_col), r"/p/(\d{9})", 1).cast("long")


def check_labeled(rows, golden: dict, n_labeled: int,
                  ignore_dedup: bool) -> tuple[float, list[str]]:
    """Compare the labeled prefix of a decisions output with the reference
    labels: (F1, problems).  ``ignore_dedup`` drops the dedup rules from
    the reference, for outputs made with dedup off inside the increment."""
    problems = []
    if len(rows) != n_labeled:
        problems.append(f"labeled rows {len(rows)} != {n_labeled}")
    pairs, sha_bad = [], 0
    for r in rows:
        want = golden[r["url"]]
        rules = set(want["rules"])
        if ignore_dedup:
            rules -= DEDUP_RULES
        pairs.append((not rules, bool(r["keep"])))
        if r["extracted_sha256"] != want["sha256"]:
            sha_bad += 1
    f1 = keep_f1(pairs)
    if f1 < MIN_F1:
        problems.append(f"keep F1 {f1:.4f} < {MIN_F1}")
    if sha_bad:
        problems.append(f"{sha_bad} extracted_sha256 mismatches")
    return f1, problems


def labeled_decisions(decisions, n_labeled: int):
    """Decisions of the rows with generator ids 0 .. n_labeled-1."""
    return (decisions.filter(row_index() < n_labeled)
            .select("url", "extracted_sha256", "keep").collect())


# -- inputs -------------------------------------------------------------------

def write_pages(path: str, rows: list[dict]) -> None:
    """Write generator rows as one parquet file with the pages schema.
    ``gen_row`` timestamps are naive UTC, as the session time zone reads
    them; Spark reads this file back row-for-row equal to
    ``sources.pages.synth_pages`` with the same seed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(path, "part-0.parquet"))


def tick_seed(seed: int, k: int) -> int:
    return seed * 1009 + k + 1


@dataclass
class Increment:
    path: str
    rows: int
    resent: list  # urls re-sent in this increment


def plan_increments(seed: int, n_ticks: int, rows: int,
                    resend_share: float) -> list[tuple[list[dict], list[str]]]:
    """Rows of every increment.  Tick k's fresh rows are
    ``gen_row(k * TICK_ID_STRIDE + j, tick_seed(seed, k))``; from tick 1 on,
    ``resend_share`` of its rows re-send clean-class pages of earlier ticks
    (same url and bytes, crawled again a week later).  No page is re-sent
    twice."""
    rng = random.Random(seed)
    pool: list[dict] = []
    out = []
    for k in range(n_ticks):
        n_resend = int(rows * resend_share) if k else 0
        fresh = [gen_row(k * TICK_ID_STRIDE + j, tick_seed(seed, k))
                 for j in range(rows - n_resend)]
        picked = rng.sample(range(len(pool)), n_resend) if n_resend else []
        resent = []
        for i in sorted(picked, reverse=True):
            row = dict(pool.pop(i))
            row["warc_ts"] = row["warc_ts"] + timedelta(days=7)
            resent.append(row)
        # clean classes only (row id % 100 in 2..54), which are mostly kept;
        # classes 0 and 1 already have an exact re-arrival inside their tick
        pool.extend(r for j, r in enumerate(fresh) if 2 <= j % 100 <= 54)
        out.append((fresh + resent, [r["url"] for r in resent]))
    return out


# -- workloads ----------------------------------------------------------------

def run_batch_on(spark, table, sid: int, out: str, profile) -> dict:
    """One product batch call over snapshot ``sid`` of ``table``."""
    return run_batch(spark, table.read(spark, sid).drop("p_day"), out,
                     profile=profile, snapshot_id=sid)


class BatchDefault:
    name = "batch_default"
    profile = DEFAULT_PROFILE

    def __init__(self, ctx):
        self.ctx = ctx
        self.table = None
        self.sid = None
        self.golden = None

    def prepare(self) -> dict:
        ctx = self.ctx
        t0 = time.perf_counter()
        write_pages(ctx.path("stage_pages"),
                    [gen_row(i, ctx.seed) for i in range(BATCH_ROWS)])
        self.table, self.sid = self.append_input("pages")
        gen_s = elapsed(t0)
        t0 = time.perf_counter()
        self.golden = reference_labels(LABELED_ROWS, ctx.seed, self.profile)
        return {"input_gen_s": gen_s, "reference_labels_s": elapsed(t0),
                "rows": BATCH_ROWS, "labeled_rows": LABELED_ROWS}

    def append_input(self, name: str):
        """A new SnapshotTable holding the staged pages as snapshot 1."""
        table = SnapshotTable(self.ctx.path(name))
        sid = table.append(self.ctx.spark.read.parquet(
            self.ctx.path("stage_pages")))
        return table, sid

    def run_once(self, out: str) -> dict:
        return run_batch_on(self.ctx.spark, self.table, self.sid, out,
                            self.profile)

    def warm_up(self) -> None:
        self.run_once(self.ctx.path("warm_out"))

    def check_output(self, result: dict, out: str) -> tuple[float | None, list[str]]:
        problems = []
        if result.get("processed") != BATCH_ROWS:
            problems.append(f"processed {result.get('processed')} != {BATCH_ROWS}")
        rows = labeled_decisions(
            self.ctx.spark.read.parquet(f"{out}/decisions"), LABELED_ROWS)
        f1, more = check_labeled(rows, self.golden, LABELED_ROWS,
                                 ignore_dedup=False)
        return f1, problems + more

    def check_resume(self, ops: Ops, out: str) -> None:
        again, err = ops.call("resume", self.run_once, out)
        if err is None:
            ops.record("resume", [] if again.get("processed") == 0 else
                       [f"repeat run_batch processed {again.get('processed')}"])

    def measure(self, seconds: float) -> dict:
        ops = Ops()
        times, cpus, outs, results = [], [], [], []
        cpu = self.ctx.cpu
        t_start = time.perf_counter()
        while len(outs) < MIN_BATCH_OPS or elapsed(t_start) < seconds:
            out = self.ctx.path(f"out{len(outs)}")
            c0, t0 = cpu(), time.perf_counter()
            res, err = ops.call("run_batch", self.run_once, out)
            dt, dc = elapsed(t0), cpu() - c0
            outs.append(out)
            results.append(res)
            if err is None:
                times.append(dt)
                cpus.append(dc)
        measured_s = elapsed(t_start)
        # checks run after the timed window
        f1s = []
        for out, res in zip(outs, results):
            if res is None:
                continue
            f1, problems = self.check_output(res, out)
            f1s.append(f1)
            ops.record("run_batch", problems)
        self.check_resume(ops, outs[0])
        return {
            "ops": ops,
            "op_times_s": times,
            "op_cpu_s": cpus,
            "measured_s": measured_s,
            "metrics": {
                "docs_per_s": BATCH_ROWS / statistics.median(times) if times else None,
                "op_wall_p50_s": statistics.median(times) if times else None,
                "docs_per_cpu_s": BATCH_ROWS / statistics.median(cpus) if cpus else None,
                "op_cpu_p50_s": statistics.median(cpus) if cpus else None,
                "keep_f1": statistics.median(f1s) if f1s else None,
            },
        }


class StateTicks:
    name = "state_ticks"
    profile = DEFAULT_PROFILE

    def __init__(self, ctx):
        self.ctx = ctx
        self.increments: list[Increment] = []
        self.golden = None
        self.ops = Ops()
        # (increment, result or None, tick wall s or None, append wall s,
        #  tick CPU s or None)
        self.done: list[tuple] = []
        # set by the traced run: appends and ticks then run as spans
        self.tracer = None
        self.table = SnapshotTable(ctx.path("ticks_table"))
        self.out = ctx.path("ticks_out")
        self.bookmark = ctx.path("ticks_bookmark.json")

    def prepare(self) -> dict:
        ctx = self.ctx
        t0 = time.perf_counter()
        for k, (rows, resent) in enumerate(plan_increments(
                ctx.seed, MAX_TICKS, TICK_ROWS, RESEND_SHARE)):
            path = ctx.path(f"stage_tick{k}")
            write_pages(path, rows)
            self.increments.append(Increment(path, len(rows), resent))
        gen_s = elapsed(t0)
        t0 = time.perf_counter()
        self.golden = reference_labels(TICK_LABELED_ROWS, tick_seed(ctx.seed, 0),
                                       self.profile)
        return {"input_gen_s": gen_s, "reference_labels_s": elapsed(t0),
                "rows_per_tick": TICK_ROWS, "resend_share": RESEND_SHARE,
                "labeled_rows": TICK_LABELED_ROWS, "warm_up_ticks": WARM_TICKS}

    def _span(self, name: str, **attrs):
        if self.tracer is None:
            return nullcontext({})
        return self.tracer.span(name, count=False, **attrs)

    def next_tick(self) -> None:
        """Append the next increment, then run one tick over it."""
        k = len(self.done)
        inc = self.increments[k]
        with self._span("sources.append", rows_in=inc.rows):
            t0 = time.perf_counter()
            self.table.append(self.ctx.spark.read.parquet(inc.path))
            append_s = elapsed(t0)
        if self.tracer is not None:
            with self._span("sources.incremental") as rec:
                rec["rows_out"] = self.table.incremental(
                    self.ctx.spark, after=read_bookmark(self.bookmark)).count()
        with self._span("streaming.tick", rows_in=inc.rows, history=k > 0,
                        tick=k):
            c0, t0 = self.ctx.cpu(), time.perf_counter()
            res, err = self.ops.call(
                f"tick{k}", process_increment, self.ctx.spark, self.table,
                self.out, self.bookmark, profile=self.profile,
                history_dedup=True)
            tick_s = elapsed(t0) if err is None else None
            tick_cpu = self.ctx.cpu() - c0 if err is None else None
        self.done.append((inc, res, tick_s, append_s, tick_cpu))

    def warm_up(self) -> None:
        """The first tick: it pays the session's one-off costs (Python
        worker start-up, code generation) and has no history to dedup
        against, so it is not a timed tick."""
        for _ in range(WARM_TICKS):
            self.next_tick()

    def check_ticks(self) -> float | None:
        """Record one checked operation per tick; returns the first tick's
        keep F1 over its labeled prefix."""
        spark = self.ctx.spark
        store = spark.read.parquet(f"{self.out}/decisions")
        resent = {u for inc, *_ in self.done for u in inc.resent}
        by_url: dict[str, list] = {}
        if resent:
            for r in (store.filter(F.col("url").isin(sorted(resent)))
                      .select("url", "warc_ts", "keep", "rules").collect()):
                by_url.setdefault(r["url"], []).append(r)
        f1 = None
        for k, (inc, res, *_) in enumerate(self.done):
            if res is None:
                continue    # raised: already counted as a failed operation
            problems = []
            if res.get("processed") != inc.rows:
                problems.append(f"tick {k} processed {res.get('processed')} "
                                f"!= appended {inc.rows}")
            for url in inc.resent:
                copies = sorted(by_url.get(url, []), key=lambda r: r["warc_ts"])
                if len(copies) != 2:
                    problems.append(f"{url}: {len(copies)} rows in the store")
                    continue
                first, again = copies
                if first["keep"] and (again["keep"]
                                      or "exact_duplicate" not in again["rules"]):
                    problems.append(f"{url}: re-sent copy of a kept page not "
                                    "demoted as exact_duplicate")
            if k == 0:
                rows = labeled_decisions(
                    store.filter(F.col("since_snapshot") == -1),
                    TICK_LABELED_ROWS)
                f1, more = check_labeled(rows, self.golden, TICK_LABELED_ROWS,
                                         ignore_dedup=True)
                problems += more
            self.ops.record(f"tick{k}", problems)
        return f1

    def measure(self, seconds: float) -> dict:
        t_start = time.perf_counter()
        while len(self.done) < len(self.increments) and (
                len(self.done) < WARM_TICKS + MIN_TIMED_TICKS
                or elapsed(t_start) < seconds):
            self.next_tick()
        measured_s = elapsed(t_start)
        f1 = self.check_ticks()
        timed = [(t, c, inc.rows) for inc, _, t, _, c in self.done[WARM_TICKS:]
                 if t is not None]
        rows = sum(n for *_, n in timed)
        return {
            "ops": self.ops,
            "op_times_s": [d[2] for d in self.done],
            "op_cpu_s": [d[4] for d in self.done],
            "append_s": [d[3] for d in self.done],
            "measured_s": measured_s,
            "metrics": {
                "docs_per_s": (rows / sum(t for t, _, _ in timed)
                               if timed else None),
                "op_wall_p50_s": (statistics.median(t for t, _, _ in timed)
                               if timed else None),
                "docs_per_cpu_s": (rows / sum(c for _, c, _ in timed)
                                   if timed else None),
                "op_cpu_p50_s": (statistics.median(c for _, c, _ in timed)
                                   if timed else None),
                "keep_f1": f1,
            },
        }


WORKLOADS = {w.name: w for w in (BatchDefault, StateTicks)}
