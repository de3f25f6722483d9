"""Traced run: per-layer spans timed from outside the program.

Each span wraps calls into one layer's public functions, under its own Spark
job group, so the event-log reader (``eventlog.py``) can attribute jobs,
tasks, executor time, shuffle, spill, GC and Python-node rows to it.  The
stage-prefix spans (fused -> quality -> scrub -> dedup / spans) each run on
the persisted output of the previous span; they are diagnostics only, and
the end-to-end metrics come from the untraced run.

A span whose target function no longer exists is recorded as missing, with
the reason, and spans that need its output are marked missing too.
"""

from __future__ import annotations

import importlib
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import functions as F

from cfht2caom2_spark.streaming.incremental import process_increment
from eventlog import COUNTERS, python_share
from workloads import (BATCH_ROWS, MIN_TIMED_TICKS, WARM_TICKS, Ops,
                       elapsed, row_index, run_batch_on)

# rows of the batch input, from row 0, that the batch layer spans take
LAYER_ROWS = 1500

# (metric, span, counter, unit).  Repeated spans report the median of their
# instances; streaming.tick reports the median over ticks that had history.
PER_LAYER = [
    ("sources.append.wall_s", "sources.append", "wall_s", "s"),
    ("sources.read.wall_s", "sources.read", "wall_s", "s"),
    ("sources.incremental.wall_s", "sources.incremental", "wall_s", "s"),
    ("functions.fused.wall_s", "functions.fused", "wall_s", "s"),
    ("functions.fused.python_share", "functions.fused", "python_share", "ratio"),
    ("functions.fused.python_rows_per_row", "functions.fused",
     "python_rows_per_row", "rows/row"),
    ("functions.quality.wall_s", "functions.quality", "wall_s", "s"),
    ("functions.quality.exec_cpu_s", "functions.quality", "exec_cpu_s", "s"),
    ("functions.quality_ladder.wall_s", "functions.quality_ladder", "wall_s", "s"),
    ("functions.quality_ladder.exec_cpu_s", "functions.quality_ladder",
     "exec_cpu_s", "s"),
    ("functions.scrub.wall_s", "functions.scrub", "wall_s", "s"),
    ("operators.dedup.wall_s", "operators.dedup", "wall_s", "s"),
    ("operators.dedup.candidate_pairs", "operators.dedup", "candidate_pairs",
     "count"),
    ("operators.dedup.loser_share", "operators.dedup", "loser_share", "ratio"),
    ("operators.spans.wall_s", "operators.spans", "wall_s", "s"),
    ("operators.spans.jobs", "operators.spans", "jobs", "count"),
    ("operators.spans.shuffle_write_mb", "operators.spans", "shuffle_write_mb",
     "MB"),
    ("operators.spans.touched_share", "operators.spans", "touched_share",
     "ratio"),
    ("operators.compact.wall_s", "operators.compact", "wall_s", "s"),
    ("operators.compact.candidates", "operators.compact", "candidates", "count"),
    ("operators.compact.confirmed_share", "operators.compact",
     "confirmed_share", "ratio"),
    ("operators.resume.wall_s", "operators.resume", "wall_s", "s"),
    ("operators.preview.wall_s", "operators.preview", "wall_s", "s"),
    ("plans.pipeline.wall_s", "plans.pipeline", "wall_s", "s"),
    ("plans.pipeline.jobs", "plans.pipeline", "jobs", "count"),
    ("plans.pipeline.tasks", "plans.pipeline", "tasks", "count"),
    ("plans.run_batch.wall_s", "plans.run_batch", "wall_s", "s"),
    ("plans.run_batch.jobs", "plans.run_batch", "jobs", "count"),
    ("plans.run_batch.tasks", "plans.run_batch", "tasks", "count"),
    ("plans.run_batch.exec_cpu_s", "plans.run_batch", "exec_cpu_s", "s"),
    ("plans.run_batch.python_rows_per_row", "plans.run_batch",
     "python_rows_per_row", "rows/row"),
    ("streaming.tick.wall_s", "streaming.tick", "wall_s", "s"),
    ("streaming.tick.jobs", "streaming.tick", "jobs", "count"),
    ("streaming.tick.tasks", "streaming.tick", "tasks", "count"),
    ("streaming.tick.exec_cpu_s", "streaming.tick", "exec_cpu_s", "s"),
    ("streaming.tick.python_rows_per_row", "streaming.tick",
     "python_rows_per_row", "rows/row"),
]


class MissingTarget(Exception):
    """A span's target is gone: its function was removed or renamed, or a
    span it takes input from is missing."""


def target(module: str, name: str):
    path = f"cfht2caom2_spark.{module}"
    try:
        mod = importlib.import_module(path)
    except ImportError as exc:
        raise MissingTarget(f"{path}: {exc}") from None
    if not hasattr(mod, name):
        raise MissingTarget(f"{path}.{name} not found")
    return getattr(mod, name)


def need(state: dict, key: str):
    if state.get(key) is None:
        raise MissingTarget(f"input '{key}' unavailable (upstream span "
                            "missing or failed)")
    return state[key]


def materialize(df, rec: dict, state: dict, key: str):
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    state.setdefault("_persisted", []).append(df)
    rec["rows_out"] = df.count()
    state[key] = df
    return df


class Tracer:
    """Records spans; each one runs under its own Spark job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops = Ops()

    @contextmanager
    def span(self, name: str, count: bool = True, **attrs):
        """Time the body under a job group of its own.  ``count=False`` for
        spans whose operation the workload already counts."""
        rec = {"span": name, "group": f"{len(self.spans):03d}:{name}", **attrs}
        self.spans.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        t0 = time.perf_counter()
        problems = rec.setdefault("problems", [])
        try:
            yield rec
            rec["wall_s"] = elapsed(t0)
        except MissingTarget as exc:
            rec["missing"] = str(exc)
        except Exception:  # a failing span is reported, the others still run
            tb = traceback.format_exc()
            print(tb, file=sys.stderr)
            problems.append(tb.strip().splitlines()[-1])
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        if count and "missing" not in rec:
            self.ops.record(name, problems)


# -- layer spans --------------------------------------------------------------

def layer_spans(tr: Tracer, state: dict, pages, profile, dedupe: bool) -> None:
    """fused -> quality -> ladder -> scrub -> dedup -> spans, then the
    whole plan into a noop sink."""
    spark = tr.spark
    perms = profile.minhash_bands * profile.minhash_rows_per_band

    with tr.span("sources.read") as rec:
        materialize(pages, rec, state, "read")
    n = rec.get("rows_out")

    with tr.span("functions.fused", rows_in=n) as rec:
        fn = target("functions.fused", "with_extract_and_scores")
        df = fn(need(state, "read"), spark, minhash_perms=perms,
                shingle_k=profile.shingle_size)
        materialize(df.drop("html", "text"), rec, state, "fused")

    with tr.span("functions.quality", rows_in=n) as rec:
        stats = target("functions.quality", "with_quality_stats")
        score = target("functions.quality", "with_quality_score")
        df = score(stats(need(state, "fused"), text_col="extracted_text",
                         lang_col="lang_pred"))
        materialize(df, rec, state, "quality")

    with tr.span("functions.quality_ladder", rows_in=n,
                 in_profile=profile.gopher_repetition_gates) as rec:
        ladder = target("functions.quality", "with_repetition_ladder")
        materialize(ladder(need(state, "quality"), text_col="extracted_text",
                           lang_col="lang_pred"), rec, state, "ladder")

    with tr.span("functions.scrub", rows_in=n) as rec:
        scrubbed = target("functions.scrub", "scrubbed")
        fired = target("functions.scrub", "scrub_rules_fired")
        text = F.col("extracted_text")
        df = (need(state, "quality")
              .withColumn("scrubbed_text", scrubbed(text))
              .withColumn("scrub_rules", fired(text)))
        materialize(df, rec, state, "scrub")

    if state.get("fused") is not None:
        state["slim"] = (state["fused"]
                         .filter(F.col("extracted_sha256").isNotNull())
                         .select("url", "warc_ts", "minhash_sig"))
    with tr.span("operators.dedup.banded_keys", rows_in=n) as rec:
        banded_keys = target("operators.dedup", "banded_keys")
        keys = banded_keys(need(state, "slim")
                           .select(F.col("url").alias("_id"),
                                   F.col("minhash_sig").alias("_sig")),
                           "_id", profile.minhash_bands,
                           profile.minhash_rows_per_band)
        a, b = keys.alias("a"), keys.alias("b")
        pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                        & (F.col("a.key") == F.col("b.key"))
                        & (F.col("a._id") < F.col("b._id")))
                 .select(F.col("a._id"), F.col("b._id")).distinct())
        rec["candidate_pairs"] = state["candidate_pairs"] = pairs.count()

    with tr.span("operators.dedup", rows_in=n) as rec:
        losers_fn = target("operators.dedup", "minhash_losers_from_sig")
        tracked: list = []
        losers = losers_fn(need(state, "slim"), id_col="url",
                           order_col="warc_ts", bands=profile.minhash_bands,
                           rows_per_band=profile.minhash_rows_per_band,
                           threshold=profile.dedup_jaccard,
                           persist_tracker=tracked, policy=profile.dedup_policy)
        rec["losers"] = losers.count()
        state.setdefault("_persisted", []).extend(tracked)
        if state.get("candidate_pairs"):
            rec["candidate_pairs"] = state["candidate_pairs"]
            rec["loser_share"] = rec["losers"] / state["candidate_pairs"]

    with tr.span("operators.spans", rows_in=n,
                 in_profile=profile.span_removal) as rec:
        remove = target("operators.spans", "remove_repeated_spans")
        docs = (need(state, "scrub")
                .select(F.xxhash64("url", "warc_ts", "extracted_sha256")
                        .alias("_sp_id"),
                        F.col("warc_ts").alias("_sp_ord"), "extracted_text")
                .filter(F.col("extracted_text").isNotNull())
                .dropDuplicates(["_sp_id"]))
        cleaned = remove(docs, id_col="_sp_id", text_col="extracted_text",
                         k=profile.span_k, min_count=profile.span_min_count,
                         key_fn=lambda c: F.xxhash64(c), order_col="_sp_ord")
        row = cleaned.agg(F.count(F.lit(1)).alias("docs"),
                          F.sum(F.when(F.col("removed_token_count") > 0, 1)
                                .otherwise(0)).alias("touched")).first()
        rec["rows_out"], rec["touched"] = row["docs"], row["touched"] or 0
        rec["touched_share"] = rec["touched"] / max(row["docs"], 1)

    with tr.span("plans.pipeline", rows_in=n) as rec:
        build = target("plans.pipeline", "build_pipeline")
        tracked = []
        (build(pages, spark, profile, dedupe=dedupe, persist_tracker=tracked)
         .write.format("noop").mode("overwrite").save())
        for df in tracked:
            df.unpersist()


def output_spans(tr: Tracer, state: dict, out: str) -> None:
    """resume (repeat run_batch), previews and the history compaction over
    the decisions that plans.run_batch wrote to ``out``."""
    spark = tr.spark

    with tr.span("operators.resume") as rec:
        again = need(state, "repeat_batch")()
        rec["processed"] = again.get("processed")
        if again.get("processed") != 0:
            rec["problems"].append(
                f"repeat run_batch processed {again.get('processed')}")

    with tr.span("operators.preview") as rec:
        write_previews = target("operators.preview", "write_previews")
        write_previews(spark.read.parquet(f"{out}/decisions"),
                       f"{out}/previews_span")

    # increment = history = the decisions just written: every kept row is
    # a bitmap candidate and a confirmed duplicate (full overlap)
    if state.get("batch_done"):
        state["decisions"] = spark.read.parquet(f"{out}/decisions").drop("p_day")
    with tr.span("operators.compact.candidates") as rec:
        bitmap_fn = target("operators.compact", "membership_bitmap")
        kept = need(state, "decisions").filter(
            F.col("keep") & F.col("extracted_sha256").isNotNull())
        bits = 1 << 22
        bitmap = bitmap_fn(kept, "extracted_sha256", bits)
        h = F.pmod(F.xxhash64("extracted_sha256"), F.lit(bits))
        probe = kept.select(
            F.floor(h / 64).alias("word_idx"),
            F.expr(f"shiftleft(1L, CAST(pmod(xxhash64(extracted_sha256), "
                   f"{bits}) % 64 AS INT))").alias("_bit"))
        state["kept"] = kept.count()
        state["candidates"] = (probe.join(F.broadcast(bitmap), "word_idx")
                               .filter((F.col("word").bitwiseAND(F.col("_bit")))
                                       != 0).count())
        rec["candidates"] = state["candidates"]

    with tr.span("operators.compact") as rec:
        demote = target("operators.compact", "demote_against_history")
        dec = need(state, "decisions")
        row = (demote(dec, dec)
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept"))
               .first())
        rec["rows_in"] = rec["rows_out"] = row["n"]
        if state.get("candidates") is not None:
            rec["candidates"] = state["candidates"]
            rec["confirmed"] = state["kept"] - (row["kept"] or 0)
            rec["confirmed_share"] = rec["confirmed"] / max(state["candidates"], 1)


# -- per-workload sequences ---------------------------------------------------

def trace_batch(w, tr: Tracer) -> float | None:
    """Layer spans over the first LAYER_ROWS rows of the batch input, then
    one full traced run_batch (whose wall time is returned), resume,
    previews, compaction and one tick over the whole table."""
    ctx = w.ctx
    state: dict = {}
    with tr.span("sources.append", rows_in=BATCH_ROWS):
        table, sid = w.append_input("pages_traced")
    # the layer spans take a prefix: the ladder alone costs about 6 ms a
    # row, and the traced run has to end within the run deadline
    pages = (table.read(ctx.spark, sid).drop("p_day")
             .filter(row_index() < LAYER_ROWS))
    layer_spans(tr, state, pages, w.profile, dedupe=True)

    out = ctx.path("traced_out")
    with tr.span("plans.run_batch", rows_in=BATCH_ROWS) as run_rec:
        res = run_batch_on(ctx.spark, table, sid, out, w.profile)
        state["batch_done"] = True
    if state.get("batch_done"):
        run_rec["keep_f1"], problems = w.check_output(res, out)
        tr.ops.record("plans.run_batch.check", problems)
        state["repeat_batch"] = lambda: run_batch_on(
            ctx.spark, table, sid, out, w.profile)
    output_spans(tr, state, out)

    with tr.span("sources.incremental") as rec:
        rec["rows_out"] = table.incremental(ctx.spark, after=None).count()
    with tr.span("streaming.tick", rows_in=BATCH_ROWS, history=False) as rec:
        res = process_increment(ctx.spark, table, ctx.path("traced_tick_out"),
                                ctx.path("traced_tick_bookmark.json"),
                                profile=w.profile, history_dedup=True)
        rec["processed"] = res.get("processed")
        if res.get("processed") != BATCH_ROWS:
            rec["problems"].append(f"tick processed {res.get('processed')}")
    for df in state.get("_persisted", []):
        df.unpersist()
    return run_rec.get("wall_s")


def trace_ticks(w, tr: Tracer) -> float | None:
    """The warm-up ticks already ran as spans (``w.tracer``); two more ticks
    with history and the tick checks, then the layer spans over the first
    increment (snapshot 1).  Returns the median wall time of the ticks
    after the warm-up."""
    ctx = w.ctx
    for _ in range(MIN_TIMED_TICKS):
        w.next_tick()
    w.check_ticks()
    tr.ops.attempted += w.ops.attempted
    tr.ops.failed += w.ops.failed
    tr.ops.failures += w.ops.failures

    state: dict = {}
    table = w.table
    layer_spans(tr, state, table.read(ctx.spark, 1).drop("p_day"), w.profile,
                dedupe=False)
    rb_out = ctx.path("traced_batch_out")
    n_first = w.increments[0].rows
    with tr.span("plans.run_batch", rows_in=n_first) as rec:
        res = run_batch_on(ctx.spark, table, 1, rb_out, w.profile)
        state["batch_done"] = True
        if res.get("processed") != n_first:
            rec["problems"].append(f"processed {res.get('processed')}")
    if state.get("batch_done"):
        state["repeat_batch"] = lambda: run_batch_on(
            ctx.spark, table, 1, rb_out, w.profile)
    output_spans(tr, state, rb_out)
    for df in state.get("_persisted", []):
        df.unpersist()
    history = [s["wall_s"] for s in tr.spans
               if s["span"] == "streaming.tick"
               and s.get("tick", 0) >= WARM_TICKS and "wall_s" in s]
    return statistics.median(history) if history else None


TRACES = {"batch_default": trace_batch, "state_ticks": trace_ticks}


# -- event-log merge and per-layer metrics ------------------------------------

def merge_counters(spans: list[dict], groups: dict) -> None:
    for rec in spans:
        if "missing" in rec:
            continue
        c = groups.get(rec["group"], {k: 0.0 for k in COUNTERS})
        rec.update(c)
        rec["python_share"] = python_share(c)
        if rec.get("rows_in"):
            rec["python_rows_per_row"] = c["python_rows"] / rec["rows_in"]


def _pick(spans: list[dict], name: str) -> list[dict]:
    found = [s for s in spans if s["span"] == name]
    if name == "streaming.tick" and any(s.get("history") for s in found):
        found = [s for s in found if s.get("history")]
    return found


def per_layer_metrics(spans: list[dict]) -> tuple[dict, dict]:
    """(metrics for the result line, {metric: reason} for those missing)."""
    metrics, missing = {}, {}
    for metric, span, counter, unit in PER_LAYER:
        found = _pick(spans, span)
        vals = [s[counter] for s in found
                if "missing" not in s and s.get(counter) is not None]
        if vals:
            metrics[metric] = {"value": statistics.median(vals), "unit": unit}
        else:
            reasons = [s.get("missing") or "; ".join(s.get("problems", []))
                       for s in found]
            missing[metric] = "; ".join(r for r in reasons if r) or \
                f"span {span} did not run"
    return metrics, missing
