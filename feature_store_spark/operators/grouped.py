"""Grouped custom operators via ``applyInPandas`` — the escape hatch for
semantics built-in operators can't express (SURVEY.md §7.3 "custom
pandas/Arrow UDFs").

Use ONLY when window/agg built-ins genuinely can't express the op: each
group is materialized as one pandas DataFrame on an executor, so the
entity with the most rows bounds memory.  When entities are hot, group by
a finer key (e.g. entity plus time bucket) whenever the op allows it.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def grouped_apply(
    df: DataFrame,
    keys: list[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """Thin, typed wrapper over ``groupBy(keys).applyInPandas`` keeping the
    engine's convention: deterministic input order inside the group is the
    CALLBACK's job (sort in ``fn``), since Spark hands groups unsorted."""
    return df.groupBy(*keys).applyInPandas(fn, schema=schema)


def grouped_topk(
    df: DataFrame,
    key: str,
    order_by: list,
    k: int,
    n_salt: int = 16,
) -> DataFrame:
    """Exact top-k rows per group, SKEW-SAFE: two-phase with a salt.

    Spark ≥3.5 already pushes a rank-limit (``WindowGroupLimit``) to the
    map side of a plain ``row_number() ≤ k`` filter, so the single-window
    form's reduce task receives ≤ k × (map partitions) rows per key —
    fine until the map-partition count is itself large (a 100 TB scan is
    10⁵+ input splits, so a hot key's reduce task still sees 10⁵·k rows
    sorted in one task).  Here phase 1 ranks within ``(key, salt)`` — the
    survivors per key are capped at ``n_salt × k`` INDEPENDENT of input
    partition count — and phase 2 ranks those.  Both phases get the same
    map-side WindowGroupLimit pushdown (verified: 2 Exchanges, 4
    WindowGroupLimit nodes).  Exact for any total order: the global
    top-k of a group is contained in the union of its per-salt top-k
    (truncation below local rank k can never discard a global top-k
    row).

    ``order_by`` must be a TOTAL order (include tiebreak columns) or
    ranks are partition-dependent.  The salt hashes all input columns
    PLUS the input partition id: a content-only hash would send fully
    identical duplicate rows into one ``(key, salt)`` bucket, regaining
    single-task skew exactly on the duplicate-heavy hot keys dedup-style
    corpora produce (round-4 review) — mixing in the partition id
    spreads duplicates as widely as they sit in the input.  Unlike a
    row-position component (``monotonically_increasing_id`` — round-5
    review: intra-partition order can differ between task attempts, the
    SPARK-23207 retry hazard), the partition id is stable across
    retries and a row's partition is content-determined for
    deterministic inputs (scans, hash/round-robin shuffles), so buckets
    are attempt-consistent.  The RESULT is layout-independent either
    way: salt only decides which bucket a row competes in, the union of
    per-salt top-k always contains the global top-k, and rows that tie
    under a total order are byte-identical — phase 2 returns the same k
    rows whichever copies survive.  With ``order_by = [md5(id)]`` this
    doubles as deterministic stratified per-group sampling (n per
    stratum).
    """
    from pyspark.sql import Window

    # partition id goes INTO the hash, not added after it: the Int32 add
    # overflowed under ANSI mode (on by default in Spark 4) for rows whose
    # content hash lands near Int.MaxValue — invisible in tests,
    # probability ~partition_id/2^32 per row, a near-certain job crash at
    # 10^5-partition scale (round-5 ADVICE).  Bucket membership changes,
    # but the result is salt-independent (union of per-salt top-k always
    # contains the global top-k).
    salt = F.pmod(
        F.hash(*[F.col(c) for c in df.columns], F.spark_partition_id()),
        F.lit(n_salt),
    )
    w1 = Window.partitionBy(key, "__salt").orderBy(*order_by)
    w2 = Window.partitionBy(key).orderBy(*order_by)
    return (
        df.withColumn("__salt", salt)
        .withColumn("__rn", F.row_number().over(w1))
        .where(F.col("__rn") <= k)
        .withColumn("rnk", F.row_number().over(w2))
        .where(F.col("rnk") <= k)
        .drop("__salt", "__rn")
    )


def quantile_col_name(q: float) -> str:
    """0.5 → ``q50``, 0.995 → ``q99_5`` — float-exact naming shared by
    ``exact_quantiles`` and ``corpus_feature_stats`` (``int(q*100)`` truncated
    0.29 to ``q28`` and collided 0.99/0.995 — round-4 review)."""
    name = "q" + ("%g" % (q * 100)).replace(".", "_")
    return name


def _quantile_names(quantiles: tuple[float, ...]) -> list[str]:
    names = [quantile_col_name(q) for q in quantiles]
    if len(set(names)) != len(names):
        raise ValueError(f"quantiles {quantiles} produce colliding names {names}")
    return names


def exact_quantiles(
    df: DataFrame,
    entity: str,
    value_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-entity EXACT quantiles — genuinely not window-expressible
    (approx_percentile is the built-in alternative; exact needs the whole
    group).  One output row per entity."""
    names = _quantile_names(quantiles)
    qcols = ", ".join(f"{name} double" for name in names)
    schema = f"{entity} string, n long, {qcols}"

    def _q(pdf: pd.DataFrame) -> pd.DataFrame:
        row = {entity: pdf[entity].iloc[0], "n": len(pdf)}
        for q, name in zip(quantiles, names):
            row[name] = float(pdf[value_col].quantile(q))
        return pd.DataFrame([row])

    return grouped_apply(
        df.withColumn(entity, F.col(entity).cast("string")), [entity], _q, schema
    )
