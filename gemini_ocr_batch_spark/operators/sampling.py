"""Deterministic, content-keyed sampling and split assignment.

Training-data pipelines cannot use engine RNG sampling (``TABLESAMPLE`` /
``df.sample``): the picked set would change with partitioning, retries, and
engine version, silently leaking rows across train/val/test. The
production-stable construction is HASH sampling — a row's fate is a pure
function of its key, so it is reproducible across engines, reshards, and
reruns, and any engine (here: DuckDB oracles) can verify it. Replaces the
role of per-run random sampling in the reference's scan filters
(reference: src/scanner.py:60-77 selects work deterministically by key
ranges — same spirit, hash instead of path fields).

Everything routes through the md5-prefix ``h60`` (functions/hashing) so the
DuckDB twin is exact: h60(key || salt) % 10_000 gives a stable 4-decimal
bucket in [0, 10000).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gemini_ocr_batch_spark.functions.hashing import h60

_BUCKETS = 10_000


def _bucket(key_col: Column, salt: str) -> Column:
    return h60(F.concat(key_col.cast("string"), F.lit(salt))) % _BUCKETS


def bucket_sql_duckdb(key_expr: str, salt: str) -> str:
    """The DuckDB twin of ``_bucket`` for oracle queries."""
    return (
        f"(('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || '{salt}'),"
        f" 1, 15))::BIGINT % {_BUCKETS})"
    )


def hash_sample(df: DataFrame, key_col: str, rate: float,
                salt: str = "sample") -> DataFrame:
    """Keep a deterministic ~``rate`` fraction of rows, keyed by content.

    Scale notes: a pure column predicate — no shuffle, no state, pushes
    into the scan's filter stage; the same key always samples the same way
    so incremental reruns never flip membership.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    threshold = int(round(rate * _BUCKETS))
    return df.filter(_bucket(F.col(key_col), salt) < F.lit(threshold))


def assign_splits(df: DataFrame, key_col: str,
                  weights: dict[str, float] | None = None,
                  salt: str = "split") -> DataFrame:
    """Add a ``split`` column (train/val/test…) by hash range.

    Content-stable: a document keeps its split across reruns and dataset
    growth — the property that prevents train/test leakage when the corpus
    is re-crawled. Weights must sum to 1 (±1e-9); ranges are assigned in
    the dict's insertion order.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    bucket = _bucket(F.col(key_col), salt)
    expr = None
    upper = 0
    names = list(weights)
    for name in names[:-1]:
        upper += int(round(weights[name] * _BUCKETS))
        cond = bucket < F.lit(upper)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    expr = (
        F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    )
    return df.withColumn("split", expr)


def stratified_sample(df: DataFrame, key_col: str, group_col: str,
                      rates: dict[str, float], default_rate: float = 0.0,
                      salt: str = "strat") -> DataFrame:
    """Per-group deterministic sampling — the data-mixing primitive.

    Training mixes are specified as per-source/per-language rates ("keep
    100% of books, 30% of common-crawl, 5% of forums"); this applies a
    different hash-bucket threshold per ``group_col`` value while keeping
    every row's fate a pure function of its key.  Groups absent from
    ``rates`` fall back to ``default_rate`` (0 = drop, the explicit-mix
    posture).

    Scale notes: still a pure column predicate — the per-group threshold
    is a literal CASE chain over ``group_col``, so there is no join
    against a rates table, no shuffle, and the filter sits directly on
    the scan.  Content-stable across reruns and corpus growth like
    :func:`hash_sample`.
    """
    for g, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {g!r} must be in [0, 1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    thr = None
    for g, r in rates.items():
        t = F.lit(int(round(r * _BUCKETS)))
        cond = F.col(group_col) == g
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    default_t = F.lit(int(round(default_rate * _BUCKETS)))
    thr = default_t if thr is None else thr.otherwise(default_t)
    return df.filter(_bucket(F.col(key_col), salt) < thr)


def stratified_case_sql_duckdb(key_expr: str, group_expr: str,
                               rates: dict[str, float],
                               default_rate: float = 0.0,
                               salt: str = "strat") -> str:
    """DuckDB predicate twin of ``stratified_sample`` (same thresholds,
    same evaluation order)."""
    b = bucket_sql_duckdb(key_expr, salt)
    parts = ["CASE"]
    for g, r in rates.items():
        parts.append(
            f"WHEN {group_expr} = '{g}' THEN {int(round(r * _BUCKETS))}"
        )
    parts.append(f"ELSE {int(round(default_rate * _BUCKETS))} END")
    return f"{b} < ({' '.join(parts)})"


def split_case_sql_duckdb(key_expr: str,
                          weights: dict[str, float] | None = None,
                          salt: str = "split") -> str:
    """DuckDB CASE twin of ``assign_splits`` (same ranges, same order)."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    b = bucket_sql_duckdb(key_expr, salt)
    names = list(weights)
    parts = ["CASE"]
    upper = 0
    for name in names[:-1]:
        upper += int(round(weights[name] * _BUCKETS))
        parts.append(f"WHEN {b} < {upper} THEN '{name}'")
    parts.append(f"ELSE '{names[-1]}' END")
    return " ".join(parts)


# ---------------------------------------------------------------------------
# training-shard materialization
# ---------------------------------------------------------------------------


def shard_assign(df: DataFrame, key_col: str, n_shards: int,
                 salt: str = "shard") -> DataFrame:
    """Add ``shard`` (0..n_shards-1) and ``order_key`` columns — the
    deterministic layout step between a planned mixture and files on disk.

    ``shard`` is content-keyed (hash % n_shards), so every document lands
    in the same shard on every rerun and shards are count-balanced in
    expectation. ``order_key`` (md5 of the salted key) gives a
    pseudo-random but reproducible within-shard order: sorting by it
    interleaves sources/languages, so a trainer streaming a shard
    sequentially never sees one source in a long run — the property batch
    mixing needs and a timestamp- or url-sorted layout lacks.

    DuckDB twins: shard = ``h60_sql_duckdb(key||salt) % n``, order_key =
    ``md5(salt || '|ord|' || key)``.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = F.col(key_col).cast("string")
    shard = (h60(F.concat(key, F.lit(salt))) % n_shards).cast("int")
    order_key = F.md5(F.concat(F.lit(f"{salt}|ord|"), key))
    return df.withColumn("shard", shard).withColumn("order_key", order_key)


def write_training_shards(df: DataFrame, key_col: str, out_dir: str,
                          n_shards: int, token_col: str | None = None,
                          salt: str = "shard") -> DataFrame:
    """Materialize a (sampled, curated) corpus as training shards:
    ``out_dir/shard=N/`` parquet, one file per shard, rows in the
    deterministic interleaved order of :func:`shard_assign`.

    Scale shape: one shuffle — ``repartition(n_shards, shard)`` co-locates
    each shard value in exactly one task (hash partitioning sends equal
    keys to one partition), the within-partition sort is spillable, and
    ``partitionBy`` then emits one file per shard directory. Token
    balance across shards is the hash-sampling argument: assignment is
    independent of document length, so per-shard token sums concentrate
    around total/n for any corpus that is large relative to n_shards.

    Returns the per-shard stats frame (shard, n_docs, n_tokens) read back
    from the written files — computed from disk, not the plan, so the
    numbers describe what a trainer will actually read.
    """
    assigned = shard_assign(df, key_col, n_shards, salt=salt)
    (
        assigned.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "order_key")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    back = df.sparkSession.read.parquet(out_dir)
    tokens_expr = (
        F.sum(F.col(token_col)).cast("bigint")
        if token_col
        else F.lit(None).cast("bigint")
    )
    return (
        back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            tokens_expr.alias("n_tokens"),
        )
        .orderBy("shard")
    )

def pack_sequences(df: DataFrame, key_col: str, token_col: str,
                   seq_len: int, n_shards: int = 1,
                   salt: str = "shard") -> DataFrame:
    """Concat-and-chunk sequence-packing plan (the GPT-family training
    layout: concatenate documents in a fixed order, slice the stream into
    ``seq_len``-token training sequences; documents may straddle a
    boundary). Emits one row per document with its span in the packed
    stream:

    - ``shard``, ``order_key`` — the deterministic interleaved layout of
      :func:`shard_assign` (same salt ⇒ same placement as the written
      shards, so the plan describes the files a trainer actually reads);
    - ``tok_offset`` — the document's first-token position within its
      shard's concatenated stream;
    - ``seq_first`` / ``seq_last`` — the range of ``seq_len``-sized
      sequences the document's tokens touch (zero-token documents carry
      their boundary position: ``seq_last == seq_first``).

    Per-shard sequence count is ``ceil(shard_tokens / seq_len)`` —
    exactly ``max(seq_last) + 1`` for the shard.

    Scale shape: ONE slim shuffle — the window partitions by ``shard``
    and orders by ``order_key`` over rows of (key, n_tokens); text never
    enters the plan. A running-sum window over a hash-bucketed stream is
    the standard distributed form of this inherently sequential layout:
    parallelism comes from shards, which is also the training-time unit
    of parallelism, so the plan parallelizes exactly as wide as the
    consumer does.

    DuckDB twin: same md5 shard/order keys + ``sum(...) OVER (PARTITION
    BY shard ORDER BY order_key ROWS UNBOUNDED PRECEDING AND 1
    PRECEDING)`` and integer division — see the parity pair.
    """
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    n_tok = F.coalesce(F.col(token_col).cast("bigint"), F.lit(0))
    assigned = shard_assign(
        df.select(F.col(key_col), n_tok.alias("__n")), key_col, n_shards,
        salt=salt,
    )
    # Secondary sort on __n: duplicate keys (a pool with unresolved
    # revisits) share an order_key, and with different token counts an
    # order_key-only sort would let the engine place them arbitrarily —
    # offsets could swap between runs. With (__n) as tie-break the only
    # remaining ties are fully identical rows, which are interchangeable
    # (swapping them yields the identical result set).
    w = (
        Window.partitionBy("shard")
        .orderBy("order_key", "__n")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("__n").over(w), F.lit(0))
    out = assigned.withColumn("tok_offset", offset)
    seq_first = F.expr(f"tok_offset div {seq_len}")
    seq_last = F.expr(
        f"(tok_offset + greatest(__n, 1L) - 1L) div {seq_len}"
    )
    return out.select(
        F.col(key_col),
        "shard",
        "order_key",
        F.col("__n").alias("n_tokens"),
        "tok_offset",
        seq_first.cast("bigint").alias("seq_first"),
        seq_last.cast("bigint").alias("seq_last"),
    )
