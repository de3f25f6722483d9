"""Cross-increment decisions compaction — the obsolete-artifact cleanup pass.

Reference analogue: ``cleanup_augmentation`` removes artifacts superseded by
newer representations of the same content
(/root/reference/cfht2caom2/cleanup_augmentation.py:77-147).  Web recast:
state-mode ticks run with dedupe off (each tick sees only its increment —
incremental.process_increment), so byte-identical content arriving in
DIFFERENT increments survives in multiple kept rows.  This periodic pass
re-ranks every kept row by content hash across the whole store and demotes
all but the earliest (adds ``exact_duplicate`` to rules, flips ``keep``),
writing a fresh canonical table — the same rewrite-don't-mutate shape as an
Iceberg rewrite/compaction action.

Scale shape: one window over (extracted_sha256) on a column-pruned read of
the decisions store (hash + keys + decision columns; scrubbed_text rides
only through the final projection), one day-partitioned write.  No joins,
no driver-side loops.

The online variant (``demote_against_history``, run inside a state tick)
reduces the history to a fixed-size bitmap plus a semi-join filter that
yields a tick-sized confirmed-hash set, and the increment passes through
one left join against that set.  It reads the increment twice, so the
caller persists it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def demote_cross_increment_duplicates(decisions: DataFrame,
                                      id_col: str = "url",
                                      order_col: str = "warc_ts") -> DataFrame:
    """Among KEPT rows sharing an extracted_sha256, keep the earliest by
    (order_col, id_col); demote the rest: rules += exact_duplicate,
    keep = false, scrubbed_text = null (stored artifacts are for kept docs
    only).  Dropped rows and null-hash rows pass through unchanged.

    Only CONTESTED rows (kept, non-null hash) enter the window: dropped and
    failed-extraction rows (a large class at crawl scale whose hash is NULL,
    which would all land in the single NULL window partition) never shuffle —
    they ride the union branch untouched."""
    # null-safe: decisions parquet from foreign writers can carry NULL keep;
    # `keep & ...` would evaluate NULL there and BOTH filter branches below
    # would drop the row (filter excludes non-true).  Coalesce to false so
    # such rows ride the pass-through branch untouched.
    contested = F.coalesce(
        F.col("keep") & F.col("extracted_sha256").isNotNull(), F.lit(False))
    w = Window.partitionBy("extracted_sha256").orderBy(
        F.col(order_col), F.col(id_col))
    demote = F.col("_demote")
    demoted = (
        decisions.filter(contested)
        .withColumn("_demote", F.row_number().over(w) > 1)
        .withColumn("rules",
                    F.when(demote, F.array_sort(F.array_union(
                        F.col("rules"), F.array(F.lit("exact_duplicate")))))
                    .otherwise(F.col("rules")))
        # contested rows were all kept; the loser flips to dropped
        .withColumn("keep", ~demote)
        .withColumn("scrubbed_text",
                    F.when(demote, F.lit(None).cast("string"))
                    .otherwise(F.col("scrubbed_text")))
        .drop("_demote")
    )
    return decisions.filter(~contested).unionByName(demoted)


def compact_decisions(spark: SparkSession, decisions_path: str,
                      out_path: str) -> dict:
    """Read the accumulated decisions store, demote cross-increment exact
    duplicates, write the canonical table day-partitioned to ``out_path``
    (rewrite, not in-place mutation — rerunnable, old store untouched).

    Returns {"rows": total, "demoted": n} via one ``observe`` riding the
    write action."""
    from pyspark.sql import Observation

    # snapshot the pre-compaction keep flag BEFORE demotion so the metric
    # compares against the original decision, not the rewritten one
    decisions = spark.read.parquet(decisions_path) \
        .withColumn("_was_kept", F.col("keep"))
    compacted = demote_cross_increment_duplicates(decisions)
    obs = Observation("compaction_metrics")
    compacted = compacted.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("_was_kept") & ~F.col("keep"), 1).otherwise(0))
        .alias("demoted"),
    ).drop("_was_kept")
    if "p_day" not in compacted.columns:
        compacted = compacted.withColumn(
            "p_day", F.date_format("warc_ts", "yyyy-MM-dd"))
    (compacted.write.mode("overwrite").partitionBy("p_day")
     .parquet(out_path))
    m = obs.get
    return {"rows": m["rows"], "demoted": m["demoted"]}


# ---------------------------------------------------------------------------
# online cross-increment dedup (bitmap-prefiltered history check)
# ---------------------------------------------------------------------------

def _bitmap_slot(col: str, bits: int) -> list[Column]:
    """[word_idx, _bit]: the bitmap word of ``xxhash64(col) mod bits`` and
    its one-bit mask — the layout membership_bitmap packs and
    demote_against_history probes."""
    bkt = f"pmod(xxhash64(`{col}`), {bits})"
    return [F.expr(f"floor({bkt} / 64)").alias("word_idx"),
            F.expr(f"shiftleft(1L, CAST({bkt} % 64 AS INT))").alias("_bit")]


def membership_bitmap(df: DataFrame, col: str,
                      bits: int = 1 << 22) -> DataFrame:
    """Fixed-size membership bitmap of ``xxhash64(col) mod bits`` packed as
    (word_idx, word) longs — at most bits/64 rows (512 KiB at the default
    2^22) no matter how large ``df`` grows, so broadcasting it is correct
    by construction.  One-hash scheme => ZERO false negatives; false
    positives (~n_distinct/bits) cost only exact-join work downstream.
    Generalizes the decontamination prefilter (operators/decontam.py::
    bench_gram_bitmap) from gram longs to any column."""
    return (
        df.filter(F.col(col).isNotNull())
        .select(*_bitmap_slot(col, bits))
        .groupBy("word_idx")
        .agg(F.bit_or("_bit").alias("word"))
    )


def demote_against_history(increment: DataFrame, history: DataFrame,
                           id_col: str = "url",
                           order_col: str = "warc_ts",
                           bits: int = 1 << 22) -> DataFrame:
    """Online cross-increment exact dedup: demote increment rows whose
    ``extracted_sha256`` already has a KEPT row in the accumulated history
    store — the streaming-tick complement of the offline compaction rewrite
    (history-wins ordering; within-increment dups are the pipeline's own
    exact-dedup stage's job).

    Scale shape: the history is reduced to a FIXED-SIZE bitmap in one
    column-pruned pass (no history shuffle); only the bitmap is forced to
    broadcast, since only it is bounded by construction.  Only the slim hash
    projection of the contested increment rows probes it; the bitmap hits
    (true dups + ~n_history/bits false positives) semi-join a second
    column-pruned history scan, giving an at most tick-sized confirmed-hash
    set.  The increment then passes through ONE left join against that set
    — an existence join, which only adds a hit flag and so needs no
    distinct — and the demotion columns are rewritten under the flag.  The
    hits and the confirmed set are tick-sized, so the planner (and AQE at
    run time) broadcasts them while a tick stays under
    ``spark.sql.autoBroadcastJoinThreshold`` and history rows never
    shuffle; a larger catch-up tick falls back to a shuffle join rather
    than broadcasting an unbounded side.  Same demotion
    contract as demote_cross_increment_duplicates: rules += exact_duplicate,
    keep flips, scrubbed_text nulls; non-contested rows pass through
    untouched, and the output keeps the increment's columns in order.

    ``increment`` is read twice (the hash probe and the left join): the
    caller persists it when it is expensive to recompute, as
    process_increment does for the tick's decisions."""
    hist_kept = history.filter(
        F.coalesce(F.col("keep"), F.lit(False))
        & F.col("extracted_sha256").isNotNull()).select("extracted_sha256")
    bitmap = membership_bitmap(hist_kept, "extracted_sha256", bits)

    contested = F.coalesce(
        F.col("keep") & F.col("extracted_sha256").isNotNull(), F.lit(False))
    hits = (
        increment.filter(contested)
        .select("extracted_sha256", *_bitmap_slot("extracted_sha256", bits))
        .join(F.broadcast(bitmap), "word_idx")
        .filter(F.col("word").bitwiseAND(F.col("_bit")) != 0)
        .select("extracted_sha256")
    )
    confirmed = hist_kept.join(hits, "extracted_sha256", "left_semi")
    hit = F.col("_hit")
    return (
        # isin(subquery) plans as an existence join: a hash kept twice in
        # the history cannot duplicate the increment row
        increment.withColumn("_hit", contested & F.col("extracted_sha256")
                             .isin(confirmed))
        .withColumn("rules", F.when(hit, F.array_sort(F.array_union(
            F.col("rules"), F.array(F.lit("exact_duplicate")))))
            .otherwise(F.col("rules")))
        .withColumn("scrubbed_text",
                    F.when(hit, F.lit(None).cast("string"))
                    .otherwise(F.col("scrubbed_text")))
        .withColumn("keep", F.when(hit, F.lit(False))
                    .otherwise(F.col("keep")))
        .select(*increment.columns)
    )
