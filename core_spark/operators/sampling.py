"""Deterministic sampling, splitting, and contamination checking for
training-data pipelines (brief extension family, alongside operators/dedup
and operators/similarity; the reference has no sampling surface — its
nearest analog is the deterministic md5 keying in
data_models/meters/utils/transform.py).

Why hash-based instead of ``df.sample()``: at 100 TB a sample must be
(a) reproducible across reruns/engines (Bernoulli sampling with a seed is
engine- and partitioning-dependent), (b) stable under re-partitioning and
incremental ingest (a document keeps its bucket forever, so yesterday's 10%
sample is a subset of today's), and (c) pushdown-friendly. Every operator
here is one JVM-side expression over md5 — no shuffle, no UDF, no state —
and is oracle-checkable bit-for-bit because DuckDB computes the identical
md5 buckets.

The bucket function: ``conv(substr(md5(key || salt), 1, 8), 16, 10) %
buckets`` — the top 32 bits of md5 are uniform, so P(bucket < f*buckets)
= f with binomial (not approximate-sampler) error. Different salts give
independent samples; train/test splits use ONE salt so membership is a
partition (disjoint + exhaustive) of the corpus by construction.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text

#: bucket resolution — fractions are exact multiples of 1/BUCKETS
BUCKETS = 1_000_000


def hash_bucket(key: Column, salt: str = "", buckets: int = BUCKETS) -> Column:
    """Deterministic uniform bucket in [0, buckets) from a key column.
    md5 exists (bit-identically) in Spark and DuckDB, so sampling predicates
    built on this are exactly reproducible across engines."""
    h = F.md5(F.concat(key.cast("string"), F.lit(salt)))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % buckets).alias(
        "bucket"
    )


def hash_sample(
    df: DataFrame, fraction: float, key_col: str = "doc_id", salt: str = ""
) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows by key hash. Pure filter —
    pushes to the scan, keeps input partitioning, and the same key is kept
    on every rerun and every engine."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(hash_bucket(F.col(key_col), salt) < int(fraction * BUCKETS))


def stratified_hash_sample(
    df: DataFrame,
    fractions: Mapping[str, float],
    strata_col: str = "lang",
    key_col: str = "doc_id",
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling — the training-mix builder
    (e.g. keep 50% of 'en', 20% of 'de', drop the rest).

    One CASE ladder over the stratum column sets each row's threshold; the
    single hash predicate stays a scan-level filter, so re-weighting a
    100 TB corpus is a full-scan-once, shuffle-never operation.
    """
    for stratum, fr in fractions.items():
        if not 0.0 <= fr <= 1.0:
            raise ValueError(f"fraction for {stratum!r} must be in [0, 1], got {fr}")
    threshold = F.lit(int(default_fraction * BUCKETS))
    for stratum, fr in sorted(fractions.items()):
        threshold = (
            F.when(F.col(strata_col) == stratum, int(fr * BUCKETS)).otherwise(threshold)
        )
    return df.filter(hash_bucket(F.col(key_col), salt) < threshold)


def train_test_split_col(
    df: DataFrame,
    test_fraction: float = 0.1,
    key_col: str = "doc_id",
    salt: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Label every row 'test' or 'train' by key hash: disjoint + exhaustive
    by construction (one bucket per key, one threshold), stable across
    reruns and ingest increments — new documents never move old ones
    between splits."""
    if not 0.0 <= test_fraction <= 1.0:
        raise ValueError(f"test_fraction must be in [0, 1], got {test_fraction}")
    bucket = hash_bucket(F.col(key_col), salt)
    return df.withColumn(
        split_col,
        F.when(bucket < int(test_fraction * BUCKETS), "test").otherwise("train"),
    )


def _word_ngrams(text: Column, n: int) -> Column:
    """All word n-grams of the normalized text as an array<string> — one
    JVM higher-order expression (sequence + transform + slice), no UDF."""
    words = F.split(normalize_text(text), " ")
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination detection: corpus documents sharing any
    normalized word ``n``-gram with a benchmark/eval document — the overlap
    rule used to decontaminate training sets against test suites (e.g.
    GPT-3 appendix C / PaLM-style 8-gram collision checks).

    Returns one row per contaminated (corpus, benchmark) pair with the
    number of shared n-grams. Plan shape at scale: benchmark n-grams are a
    SMALL relation (eval suites are tiny vs the corpus), so Catalyst/AQE
    broadcasts them and the corpus side is one scan + explode with NO
    corpus-wide shuffle for the join itself; the groupBy aggregates
    (corpus_doc, bench_doc) partials map-side. Distinct n-grams per side
    keep counts set-semantic (a phrase repeated in the corpus doc counts
    once).
    """
    corpus_grams = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(_word_ngrams(F.col(text_col), n))).alias("g"),
    )
    bench_grams = benchmark.select(
        F.col(bench_id_col).alias("bench_id"),
        F.explode(F.array_distinct(_word_ngrams(F.col(bench_text_col), n))).alias("g"),
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )


def sequence_pack(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    context_len: int,
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: documents are laid end
    to end in deterministic ``id_col`` order into a single token stream,
    which is cut into fixed ``context_len`` windows ("packs"). Each doc
    gets its global token offset and the pack span it lands in — the
    assignment a training loader needs to build batches without padding
    waste (docs crossing a boundary are split across the two packs, the
    standard pretraining convention).

    Scale shape — a GLOBAL running sum without a global window: rows are
    range-partitioned and sorted by id, per-partition token totals
    (one tiny groupBy, ≤P rows) are prefix-summed on the driver and
    joined back as per-partition base offsets (broadcast), and the
    within-partition running sum is a window PARTITIONED BY the range
    partition id — every partition computes independently, nothing
    serializes through one task (the same boundary-combine discipline as
    the monotonicity expectations; the naive ``Window.orderBy(id)`` form
    would drag 100 TB through a single partition).
    """
    if context_len <= 0:
        raise ValueError("context_len must be positive")
    from pyspark.sql import Window

    # localCheckpoint (not a lazy frame, not persist): the base offsets are
    # keyed by __pid, so the partition assignment must be computed exactly
    # once. Re-planned, AQE may coalesce the range partitions differently;
    # a persisted block evicted before the output runs would be recomputed.
    d = (
        df.select(F.col(id_col), F.col(tokens_col))
        .repartitionByRange(F.col(id_col))
        .sortWithinPartitions(id_col)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    part = (
        d.groupBy("__pid")
        .agg(F.sum(tokens_col).alias("__t"))
        .collect()
    )
    base, acc = {}, 0
    for r in sorted(part, key=lambda r: r["__pid"]):
        base[r["__pid"]] = acc
        acc += int(r["__t"] or 0)
    base_df = d.sparkSession.createDataFrame(
        [(p, b) for p, b in base.items()], "__pid int, __base long"
    )
    w = Window.partitionBy("__pid").orderBy(id_col)
    tok = "`" + tokens_col.replace("`", "``") + "`"
    out = (
        d.join(F.broadcast(base_df), "__pid")
        .withColumn(
            "token_offset",
            F.col("__base")
            + F.coalesce(
                F.sum(tokens_col).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            # integral division: float floor would lose exactness past
            # 2^53 total tokens, which a 10^12-doc stream exceeds
            "pack_first",
            F.expr(f"token_offset div {int(context_len)}"),
        )
        .withColumn(
            "pack_last",
            F.when(
                F.col(tokens_col) > 0,
                F.expr(f"(token_offset + {tok} - 1) div {int(context_len)}"),
            ).otherwise(F.col("pack_first")),
        )
        .drop("__pid", "__base")
    )
    return out
