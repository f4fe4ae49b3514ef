"""Skew-mitigation utilities for 100 TB workloads.

AQE's skew-join handling (on by default in session.py) covers sort-merge
joins; these helpers cover the cases AQE can't re-plan:

- ``salted_distinct_count``: COUNT(DISTINCT x) per heavily-skewed key —
  two-phase aggregation over a salted composite key.
- ``salted_join``: broadcast-infeasible join against a skewed key —
  explode the small side over N salts, salt the big side randomly.
- ``bucketed_write`` / co-located joins live in sources/bucketed.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoparquet_io_spark.plans import shuffles


def salted_distinct_count(df: DataFrame, key: str, value: str,
                          salt: int = 32) -> DataFrame:
    """COUNT(DISTINCT value) GROUP BY key, skew-safe.

    Phase 1 shuffles on (key, salt(value)) — hot keys spread across
    ``salt`` reducers; phase 2 sums the per-salt distinct counts (disjoint
    by construction since the salt is derived from the value)."""
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(F.col(value)), F.lit(salt)))
    phase1 = salted.groupBy(key, "__salt").agg(
        F.count_distinct(F.col(value)).alias("__partial")
    )
    return phase1.groupBy(key).agg(F.sum("__partial").alias("distinct_count"))


def salted_join(big: DataFrame, small: DataFrame, key: str,
                salt: int = 16, how: str = "inner") -> DataFrame:
    """Join a huge skewed table against a small-but-too-big-to-broadcast
    table: replicate ``small`` across ``salt`` copies, randomize the salt
    on ``big`` — each hot key's rows spread over ``salt`` reducers.

    ``how`` is limited to 'inner'/'left'/'left_semi'/'left_anti' —
    replication makes small the many-copies side, so any join that
    emits UNMATCHED small rows ('right', 'full') would emit each of
    them once per salt copy."""
    if how not in ("inner", "left", "left_outer", "leftsemi", "left_semi",
                   "left_anti", "leftanti"):
        raise ValueError(
            f"salted_join supports inner/left/semi/anti joins, got "
            f"{how!r} — unmatched small-side rows would duplicate "
            f"{salt}x under right/full joins")
    if "__salt" in big.columns or "__salt" in small.columns:
        raise ValueError("a '__salt' column already exists — rename it "
                         "before salted_join")
    overlap = [c for c in small.columns
               if c != key and c in big.columns]
    if overlap:
        # the list-form join merges only (key, __salt): other shared
        # names come through twice — ambiguous on select, fatal on write
        raise ValueError(
            f"columns {overlap} exist on BOTH sides — rename or drop "
            "them before salted_join (only the key merges)")
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("__salt")
    small_rep = small.select("*", salts)
    big_salted = big.withColumn(
        "__salt", (F.rand(seed=42) * salt).cast("int")
    )
    out = big_salted.join(small_rep, [key, "__salt"], how)
    return out.drop("__salt")


def key_skew_report(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """Top-N keys by row count with their share of the table — the
    diagnosis step before choosing salting / AQE / broadcast.

    ONE pass over the input: the total comes from the checkpointed
    grouped counts, not a second full-table count — the diagnostic must
    not cost double on exactly the huge plans it targets."""
    counts = df.groupBy(key).count().localCheckpoint(eager=False)
    total = counts.agg(F.sum("count").alias("__t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("share", F.round(F.col("count") / F.col("__t"), 6))
        .drop("__t")
        .orderBy(F.desc("count"), F.asc(key))
        .limit(top)
    )


def spread(df: DataFrame, multiplier: int = 1) -> DataFrame:
    """Restore scan parallelism when the file layout denies it.

    A parquet scan parallelizes at row-group/file granularity; a dataset
    written as few single-row-group files (this repo's testdata is one
    row group per table) pins every downstream map-side stage — regex
    tokenization, WKB pandas UDFs, per-pair vector math — to ONE task no
    matter how many cores exist.  One cheap round-robin shuffle of the
    (small) input unlocks all of them.

    GATED so it is a no-op exactly when it would be catastrophic: if the
    scan already yields >= defaultParallelism partitions (any real
    multi-file lake, any 100 TB table), the df passes through untouched —
    this never inserts a shuffle on a big scan.

    Plans that shuffle into more than one partition pass through
    unprobed (``plans.shuffles``, 0 jobs): the shuffle, not the file
    layout, sets their parallelism (though AQE may coalesce a byte-small
    one below the cores), and under AQE the ``.rdd`` probe EXECUTES every
    upstream stage as a throwaway job (~0.5 s + 1 job per call in the
    streaming semantic-dedup sink).  A broadcast exchange does not
    count, nor does a single-partition one (``repartition(1)``, a window
    without ``partitionBy``), which pins what follows to one task.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * multiplier
    if shuffles(df):
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
