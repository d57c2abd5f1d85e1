"""Table profiling: per-column statistics in ONE pass.

The data-quality step before any pipeline run: row/null/distinct counts
and value ranges per column. The Spark side computes every column's
stats in a single aggregation (one scan, map-side partials; the
multi-``countDistinct`` expand is the standard cost), then unpivots the
1-row result into a tall frame with a driver-free explode. The oracle
recomputes each column's row independently — DuckDB may scan per
column; the one-pass constraint is the SPARK-side scale claim.

Numeric columns only: min/max are emitted as DOUBLE (decimal→double and
int→double conversions are deterministic and identical across engines;
casting values to STRING is not — float formatting differs).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_quantiles(df: DataFrame, col: str, probs: list[float]) -> DataFrame:
    """Exact linear-interpolation quantiles of a numeric column,
    computed distributed (no driver collect, no approximation).

    Ranking goes through ``operators/keys.py:dense_ids`` (the two-phase
    prefix kernel: range-repartition on the value, a running count
    within each partition, exact per-partition offsets). No
    partition-less window — the column is never funneled through one
    task, so the operator survives a 100 TB column where a global
    ``row_number().over(Window.orderBy(...))`` would not.

    For each prob p: position h = p·(n-1) (0-based), value =
    v[floor(h)] + (v[ceil(h)] - v[floor(h)])·(h - floor(h)) — the
    EXPLICIT formula, written identically in the DuckDB oracle, because
    the built-ins (`percentile` vs `quantile_cont`) use algebraically
    equal but differently-rounded expressions that can diverge in the
    last ulp. Engine-identical arithmetic: h is a product of exact
    doubles, the interpolation is 3 IEEE ops in a fixed order.
    """
    from sfcrimedatapipeline_spark.operators.keys import dense_ids

    vals = df.select(F.col(col).cast("double").alias("__v"))
    # 0-based rank; the Column F.asc keeps NULLS FIRST (dense_ids would
    # put a bare column name NULLS LAST)
    ranked = dense_ids(vals, [F.asc("__v")], "__id").select(
        "__v", (F.col("__id") - 1).alias("__r")
    )
    n = df.count()  # driver scalar (an aggregate, not a row collect)

    spots: dict[float, tuple[int, int, float]] = {}
    for p in probs:
        h = p * (n - 1)
        lo = int(h // 1)
        spots[p] = (lo, min(lo + 1, n - 1), h - (h // 1))
    positions = sorted({x for lo, hi, _ in spots.values() for x in (lo, hi)})

    # ONE filtered pass + ONE conditional aggregation — the sort runs
    # once regardless of how many probs are requested
    row = ranked.filter(F.col("__r").isin(positions)).agg(
        *[
            F.min(F.when(F.col("__r") == pos, F.col("__v"))).alias(f"__v_{pos}")
            for pos in positions
        ]
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(p).alias("prob"),
                (
                    F.col(f"__v_{lo}")
                    + (F.col(f"__v_{hi}") - F.col(f"__v_{lo}")) * F.lit(frac)
                ).alias("value"),
            )
            for p, (lo, hi, frac) in sorted(spots.items())
        ]
    )
    return row.select(F.explode(entries).alias("e")).select("e.*")


def approx_quantiles(
    df: DataFrame,
    col: str,
    probs: list[float],
    relative_error: float = 0.001,
) -> DataFrame:
    """MERGEABLE approximate quantiles — the tier a 100 TB profile
    actually runs, wrapping Spark's ``percentile_approx`` (the
    Greenwald-Khanna-style quantile summary behind
    ``approxQuantile``): per-partition summaries of bounded size merge
    associatively, so the whole column is ONE map-side-combined
    aggregation — no sort, no range shuffle, no rank join.

    ε-contract: with ``accuracy = ⌈1/relative_error⌉``, the returned
    value for prob p has true rank within ``±relative_error·n`` of
    ``p·n`` (rank error, not value error — the guarantee quantile
    sketches actually give). tests pin |rank(approx) − p·n| ≤ ε·n
    against :func:`exact_quantiles` on a known distribution.

    Gated rows-only (like a7_approx_distinct): Spark's GK summary and
    any oracle engine's sketch legitimately return different values
    inside the ε band, so a cross-engine value hash is the wrong
    check. Same output schema as :func:`exact_quantiles` —
    ``(prob double, value double)`` — so callers can swap tiers.
    """
    acc = max(1, int(round(1.0 / relative_error)))
    row = df.agg(
        F.percentile_approx(
            F.col(col).cast("double"),
            F.array(*[F.lit(float(p)) for p in probs]),
            F.lit(acc),
        ).alias("__qs")
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(float(p)).alias("prob"),
                F.element_at("__qs", i + 1).cast("double").alias("value"),
            )
            for i, p in enumerate(probs)
        ]
    )
    return row.select(F.explode(entries).alias("e")).select("e.*")


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """One row per profiled column: n_rows, n_nulls, n_distinct,
    min/max as double."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"__nn_{c}"),
            F.countDistinct(c).alias(f"__nd_{c}"),
            F.min(F.col(c).cast("double")).alias(f"__mn_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__mx_{c}"),
        ]
    row = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"__nn_{c}")).alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__mn_{c}").alias("min_value"),
                F.col(f"__mx_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return row.select(F.explode(entries).alias("e")).select("e.*")


def frequent_items(
    df: DataFrame, cols: list[str], k: int = 5
) -> DataFrame:
    """EXACT top-k heavy hitters per column (value, count, rank) —
    the categorical companion to the numeric profile. Deterministic
    ranking: (count DESC, value ASC). One groupBy per column unioned
    into a single job; each is map-side combined, so the shuffle
    carries one row per distinct value, never per input row. Values
    travel as strings (the profile's tall-frame type discipline);
    NULLs are profiled too, rendered as the literal 'NULL'.

    Exact-over-sketch is deliberate: a Misra-Gries/CMS sketch saves
    memory only when the distinct count per column is huge, and its
    counts are engine-specific — the exact form is oracle-checkable
    and its shuffle is already distinct-bounded.
    """
    from pyspark.sql import Window

    parts = []
    for c in cols:
        counted = (
            df.select(F.coalesce(F.col(c).cast("string"), F.lit("NULL")).alias("value"))
            .groupBy("value")
            .agg(F.count("*").alias("n"))
            .select(F.lit(c).alias("col_name"), "value", "n")
        )
        parts.append(counted)
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    w = Window.partitionBy("col_name").orderBy(F.desc("n"), F.asc("value"))
    return (
        allc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("col_name", "value", F.col("n").cast("long").alias("n"), "rank")
    )


def frequent_items_mg(
    df: DataFrame, cols: list[str], k: int = 5, capacity: int | None = None
) -> DataFrame:
    """Heavy hitters via Misra-Gries CANDIDATES + exact reCOUNT — the
    scale tier of :func:`frequent_items` for columns whose distinct
    count is itself too large to shuffle (URLs, user ids, n-grams).

    :func:`frequent_items`'s groupBy shuffles one row per DISTINCT
    value; at 10^9+ distincts that shuffle is the job. This tier
    bounds it: each partition folds its rows through a Misra-Gries
    summary of ``capacity`` counters (an Arrow-batched generator —
    each pandas batch's exact value_counts is MG-merged into the
    running summary, the mergeable-summaries formulation: combine,
    then subtract the (capacity+1)-th largest count and drop
    non-positives), and emits only its ≤ capacity candidate VALUES.
    Candidates are exact-recounted with a broadcast semi-join +
    map-side-combined groupBy, so every reported count is EXACT and
    the shuffle carries ≤ capacity·n_partitions candidate rows +
    ≤ |candidates| count rows — independent of the distinct count.

    Guarantee (MG mergeability): any value with global frequency
    > n/(capacity+1) survives as a candidate, so the output equals
    the exact top-k whenever the k-th frequency clears that bound;
    below it, rare tail values may be missing but nothing reported is
    ever wrong (counts are recounted, ranking is deterministic
    (count DESC, value ASC)). Same output schema as
    :func:`frequent_items` — the gated query reuses its oracle on
    small-domain columns where the bound holds trivially.
    """
    from pyspark.sql import Window

    cap = capacity if capacity is not None else max(64, 8 * k)

    def mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for v, cnt in pdf["value"].value_counts().items():
                counters[v] = counters.get(v, 0) + int(cnt)
            if len(counters) > cap:
                cut = sorted(counters.values(), reverse=True)[cap]
                counters = {v: c - cut for v, c in counters.items() if c > cut}
        yield pd.DataFrame({"value": pd.Series(list(counters), dtype="object")})

    parts = []
    for c in cols:
        vals = df.select(
            F.coalesce(F.col(c).cast("string"), F.lit("NULL")).alias("value")
        )
        cands = vals.mapInPandas(mg_partition, "value string").distinct()
        counted = (
            vals.join(F.broadcast(cands), "value", "left_semi")
            .groupBy("value")
            .agg(F.count("*").alias("n"))
            .select(F.lit(c).alias("col_name"), "value", "n")
        )
        parts.append(counted)
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    w = Window.partitionBy("col_name").orderBy(F.desc("n"), F.asc("value"))
    return (
        allc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("col_name", "value", F.col("n").cast("long").alias("n"), "rank")
    )


def histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    null_bin: bool = False,
) -> DataFrame:
    """Fixed-width histogram of a numeric column over [lo, hi): bin
    index, inclusive-exclusive bounds, and count. Out-of-range NON-NULL
    rows clamp into the edge bins; empty bins are emitted with count 0
    so the shape is fixed regardless of data. NULL values fall outside
    every bin — by default they are excluded (the oracle twin does the
    same); with ``null_bin=True`` they are counted in a dedicated
    ``bin = -1`` row (NULL bounds), so no row of any kind goes
    unreported (ADVICE r4: the old docstring claimed that of the
    default path, which was wrong).

    One map-side-combined groupBy on the bin index (≤ n_bins+1 rows
    shuffle), then a broadcast right-join against a generated bin
    spine. The bin formula is pure double arithmetic written
    identically in the oracle.
    """
    width = (hi - lo) / n_bins
    v = F.col(col).cast("double")
    # NULL must stay NULL through the clamp: Spark's greatest() SKIPS
    # nulls (greatest(NULL, 0) = 0), so without the isNotNull guard a
    # NULL row would silently clamp into bin 0
    idx = F.when(
        v.isNotNull(),
        F.least(
            F.greatest(F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(0)),
            F.lit(n_bins - 1),
        ),
    ).cast("int")
    if null_bin:
        idx = F.coalesce(idx, F.lit(-1).cast("int"))
    counts = (
        df.select(idx.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
    )
    spark = df.sparkSession
    spine = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    if null_bin:
        spine = spine.unionByName(
            spark.range(1).select(F.lit(-1).cast("int").alias("bin"))
        )
    in_range = F.col("bin") >= 0
    return (
        spine.join(counts, "bin", "left")
        .select(
            "bin",
            F.when(in_range, F.lit(lo) + F.col("bin") * F.lit(width)).alias(
                "bin_lo"
            ),
            F.when(
                in_range, F.lit(lo) + (F.col("bin") + 1) * F.lit(width)
            ).alias("bin_hi"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
    )


def table_diff(
    left: DataFrame, right: DataFrame, key_cols: list[str], hash_cols: list[str]
) -> DataFrame:
    """Row-level reconciliation between two tables (the migration /
    anti-entropy check): per key, classify ``match`` / ``differs`` /
    ``left_only`` / ``right_only`` from an md5 row checksum over
    ``hash_cols`` (NULL-tagged, unit-separated concat so
    ('a', NULL) ≠ ('aNULL',) ≠ (NULL, 'a')).

    FULL OUTER join on the key, comparing 32-byte checksums — row
    content never crosses the shuffle twice. The summary output is one
    row per status, so the result is tiny at any scale; feed
    ``detail=True`` pipelines from the same joined frame if keys are
    needed.
    """
    SEP = "\x1f"  # unit separator; oracle twin uses chr(31)

    def checksum(df: DataFrame) -> DataFrame:
        parts = []
        for c in hash_cols:
            parts.append(
                F.coalesce(
                    F.concat(F.lit("v"), F.col(c).cast("string")), F.lit("NULL")
                )
            )
        return df.select(
            *[F.col(k) for k in key_cols],
            F.md5(F.concat_ws(SEP, *parts)).alias("__ck"),
        )
    l = checksum(left).alias("l")
    r = checksum(right).alias("r")
    cond = [F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}")) for k in key_cols]
    joined = l.join(r, cond, "full_outer")
    status = (
        F.when(F.col("l.__ck").isNull(), F.lit("right_only"))
        .when(F.col("r.__ck").isNull(), F.lit("left_only"))
        .when(F.col("l.__ck") == F.col("r.__ck"), F.lit("match"))
        .otherwise(F.lit("differs"))
    )
    return (
        joined.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").cast("long").alias("n_rows"))
    )


def exact_quantiles_by(
    df: DataFrame, group_col: str, col: str, probs: list[float]
) -> DataFrame:
    """Per-GROUP exact quantiles — the grouped companion to
    :func:`exact_quantiles`, fully relational (no driver scalar: group
    sizes live in a window count). Same explicit interpolation formula,
    identical in the oracle: h = p·(n−1), value = v[⌊h⌋] +
    (v[⌈h⌉] − v[⌊h⌋])·(h − ⌊h⌋).

    One shuffle on the group key sorts each group once; the probs spine
    is a literal cross join (|groups|×|probs| rows), and the two
    position lookups are joins against the ranked frame at
    group-cardinality × |probs| — never a second full sort.
    """
    from pyspark.sql import Window

    ranked = df.select(
        F.col(group_col).alias("g"),
        F.col(col).cast("double").alias("v"),
    ).select(
        "g", "v",
        (F.row_number().over(
            Window.partitionBy("g").orderBy("v")
        ) - 1).alias("r"),
        F.count("*").over(Window.partitionBy("g")).alias("n"),
    ).persist()
    spine = (
        ranked.select("g", "n").distinct()
        .select(
            "g", "n",
            F.explode(F.array(*[F.lit(p) for p in probs])).alias("prob"),
        )
        .select(
            "g", "prob",
            (F.col("prob") * (F.col("n") - 1)).alias("h"),
            F.col("n"),
        )
        .select(
            "g", "prob", "h",
            F.floor("h").cast("long").alias("lo"),
            F.least(F.floor("h").cast("long") + 1, F.col("n") - 1).alias("hi"),
        )
    )
    vlo = ranked.select(F.col("g"), F.col("r").alias("lo"), F.col("v").alias("vlo"))
    vhi = ranked.select(F.col("g"), F.col("r").alias("hi"), F.col("v").alias("vhi"))
    from sfcrimedatapipeline_spark.functions.caching import (
        unpersist_when_released,
    )

    result = (
        spine.join(vlo, ["g", "lo"])
        .join(vhi, ["g", "hi"])
        .select(
            F.col("g").alias(group_col),
            "prob",
            (
                F.col("vlo")
                + (F.col("vhi") - F.col("vlo")) * (F.col("h") - F.floor("h"))
            ).alias("value"),
        )
    )
    return unpersist_when_released(result, ranked)


def drift_tvd(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> DataFrame:
    """Distribution drift between two snapshots of a column: TOTAL
    VARIATION DISTANCE over a shared fixed-width histogram —
    0.5 · Σ_bins |n_a/N_a − n_b/N_b| ∈ [0, 1]. The monitoring primitive
    for "did this feed change shape between runs" (0 = identical
    histograms, 1 = disjoint support).

    TVD, not KL/PSI, deliberately: per-bin shares are single divisions
    of exact integer counts and the final sum folds in fixed bin order,
    so the score is bit-identical across engines — KL's ln is not, and
    PSI inherits it. ``tvd`` is NULL when either side has no in-range
    rows (a share of nothing is undefined, never silently 0).

    Scale shape: two :func:`histogram` passes (map-side-combined,
    ≤ n_bins rows shuffle each), one spine-sized join, one fold over an
    n_bins array in a 1-row aggregate.
    """
    ha = histogram(df_a, col, lo, hi, n_bins).select(
        "bin", F.col("n").alias("__na")
    )
    hb = histogram(df_b, col, lo, hi, n_bins).select(
        "bin", F.col("n").alias("__nb")
    )
    agg = (
        ha.join(hb, "bin")
        .agg(
            F.count("*").cast("int").alias("n_bins"),
            F.sum("__na").cast("long").alias("n_a"),
            F.sum("__nb").cast("long").alias("n_b"),
            F.sort_array(
                F.collect_list(F.struct("bin", "__na", "__nb"))
            ).alias("__bins"),
        )
    )
    tvd = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        F.lit(0.5)
        * F.aggregate(
            F.col("__bins"),
            F.lit(0.0),
            lambda acc, s: acc
            + F.abs(s["__na"] / F.col("n_a") - s["__nb"] / F.col("n_b")),
        ),
    )
    return agg.select("n_bins", "n_a", "n_b", tvd.alias("tvd"))


def validate_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Ingest-time embedding validation: per-vector diagnostics for the
    failure modes that silently poison ANN/dedup math downstream —
    NULL column, wrong dimensionality, NaN/Infinity components, exact
    zero norm (cosine undefined). Pure per-row Catalyst expressions
    (size / exists HOFs), no shuffle; ``valid`` is the conjunction, so
    a pipeline gates with one filter and routes the rest to quarantine.
    Checks are exact predicates (integer size, IEEE isnan/abs compare),
    hash-identical across engines.
    """
    v = F.col(vec_col)
    is_null = v.isNull()
    n_dims = F.coalesce(F.size(v), F.lit(-1)).cast("int")
    has_nan = F.coalesce(
        F.exists(v, lambda x: F.isnan(x) | (F.abs(x) == float("inf"))),
        F.lit(False),
    )
    # a NULL ELEMENT is its own failure mode: exists(isnan) over it
    # yields NULL→false, so without this check a [NULL, …] vector of
    # the right length would pass as valid and poison every downstream
    # dot product with NULL
    has_null_elem = F.coalesce(
        F.exists(v, lambda x: x.isNull()), F.lit(False)
    )
    # element-null-safe: forall(notnull ∧ ==0) — mirrors the oracle's
    # "no element is (NULL or ≠0)" filter exactly
    is_zero = F.coalesce(
        F.forall(v, lambda x: x.isNotNull() & (x == 0.0)), F.lit(False)
    ) & ~is_null
    return emb.select(
        F.col(id_col),
        is_null.alias("is_null"),
        n_dims.alias("n_dims"),
        has_nan.alias("has_nan"),
        has_null_elem.alias("has_null_elem"),
        is_zero.alias("is_zero"),
        (
            ~is_null
            & (n_dims == dim)
            & ~has_nan
            & ~has_null_elem
            & ~is_zero
        ).alias("valid"),
    )


def partition_stats(df: DataFrame) -> DataFrame:
    """Physical-layout diagnostic: per-partition row counts plus a
    1-row skew summary (n_partitions, min/max/mean rows, max/mean skew
    ratio) — the first thing to look at when a stage straggles.

    Deliberately NOT an oracle-gated query: partition assignment is an
    execution property, not a semantic one (any hash seed change
    re-shapes it), so this ships as ops tooling with structural tests.
    One pass: spark_partition_id + a two-level aggregate; never
    collects rows to the driver.
    """
    per_part = df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count("*").alias("n_rows")
    )
    return per_part.agg(
        F.count("*").cast("int").alias("n_partitions"),
        F.min("n_rows").alias("min_rows"),
        F.max("n_rows").alias("max_rows"),
        (F.sum("n_rows") / F.count("*")).alias("mean_rows"),
        (F.max("n_rows") / (F.sum("n_rows") / F.count("*"))).alias("skew_ratio"),
        F.sum("n_rows").alias("total_rows"),
    )


#: quantization scale for embedding moments (float32 payloads carry
#: ~7 significant digits; 1e6 preserves them exactly in an int64)
EMB_MOMENT_SCALE = 1_000_000


def standardize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Per-DIMENSION standardization (z-scoring) of an embedding
    column — the feature-scaling pass before distance-based anything
    (k-means, cosine thresholds tuned on one corpus and applied to
    another). Each dimension's mean/std come from EXACT integer
    moments: values quantize once to 1e-6 units (s12 discipline — a
    raw float sum is partition-order-dependent and unportable), sums
    accumulate in DECIMAL(38,0), and the final standardized floats are
    a fixed IEEE sequence — bit-stable under any partitioning.

    Scale shape: one posexplode (dim rows per vector) → one
    map-side-combined groupBy(dim) at DIMENSION cardinality (64 rows
    out, whatever the corpus size) → broadcast join back → per-row
    array rebuild. Zero-variance dimensions standardize to 0.0 (not
    NULL/NaN — downstream BLAS must never see NaN).
    """
    q = F.floor(F.col("__x") * EMB_MOMENT_SCALE + F.lit(0.5)).cast("long")
    per_dim = (
        df.select(F.posexplode(F.col(vec_col)).alias("__d", "__x"))
        .select("__d", q.alias("__q"))
        .groupBy("__d")
        .agg(
            F.count("*").alias("__n"),
            F.sum(F.col("__q").cast("decimal(38,0)")).alias("__s"),
            F.sum((F.col("__q") * F.col("__q")).cast("decimal(38,0)")).alias("__ss"),
        )
    )
    nd = F.col("__n").cast("double")
    mean_q = F.col("__s").cast("double") / nd
    var_q = F.col("__ss").cast("double") / nd - mean_q * mean_q
    stats = per_dim.select(
        "__d",
        (mean_q / EMB_MOMENT_SCALE).alias("__mean"),
        (F.sqrt(var_q) / EMB_MOMENT_SCALE).alias("__std"),
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("__d", "__x")
    )
    standardized = exploded.join(F.broadcast(stats), "__d").select(
        id_col,
        "__d",
        F.when(
            F.col("__std") > 0.0,
            (F.col("__x").cast("double") - F.col("__mean")) / F.col("__std"),
        )
        .otherwise(F.lit(0.0))
        .alias("__z"),
    )
    return (
        standardized.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__d"), F.col("__z")))
            ).alias("__pairs")
        )
        .select(
            id_col,
            F.transform(F.col("__pairs"), lambda s: s["__z"]).alias("z_embedding"),
        )
    )


def robust_outliers_mad(
    df: DataFrame,
    group_col: str,
    value_cents: "F.Column",
    id_cols: list[str],
    c: int = 5,
) -> DataFrame:
    """Per-group robust outliers by median absolute deviation — the
    mean/stddev z-score breaks exactly when you need it (one huge
    outlier inflates the stddev that is supposed to expose it; 50%
    breakdown point for the median vs 0% for the mean).

    ALL-INTEGER: callers pass the value pre-quantized to cents
    (``value_cents``), medians are the LOWER median (the element at
    1-based rank (n+1) div 2 — no interpolation, no floats), MAD is
    the lower median of |v − med|, and the flag is the integer
    cross-multiplication ``|v − med| > c·mad``. Every comparison is
    exact in any engine, so the flagged set hash-gates.

    Scale shape: two rank windows, both PARTITIONED BY the group (no
    global window), one group-cardinality aggregate + join each.
    Groups with mad = 0 (a majority of identical values) flag every
    deviating row — intended: deviation from a constant IS the
    anomaly.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(group_col).alias("g"), value_cents.alias("v"), *id_cols
    )
    w1 = Window.partitionBy("g").orderBy("v", *id_cols)
    r1 = base.select(
        "g", "v", *id_cols,
        F.row_number().over(w1).alias("__r"),
        F.count("*").over(Window.partitionBy("g")).alias("__n"),
    )
    med = r1.filter(
        F.col("__r") == F.expr("(__n + 1) DIV 2")
    ).select(F.col("g"), F.col("v").alias("med"))
    dev = r1.join(med, "g").withColumn("dev", F.abs(F.col("v") - F.col("med")))
    w2 = Window.partitionBy("g").orderBy("dev", *id_cols)
    r2 = dev.select(
        "g", "v", "med", "dev", "__n", *id_cols,
        F.row_number().over(w2).alias("__r2"),
    )
    mad = r2.filter(
        F.col("__r2") == F.expr("(__n + 1) DIV 2")
    ).select(F.col("g"), F.col("dev").alias("mad"))
    flagged = (
        dev.join(mad, "g")
        .filter(F.col("dev") > F.lit(c) * F.col("mad"))
    )
    return flagged.select(
        F.col("g").alias(group_col),
        *id_cols,
        F.col("v").alias("value_cents"),
        F.col("med").alias("median_cents"),
        F.col("mad").alias("mad_cents"),
    )


def _cms_bucket(key, row: int, seed: str, width: int):
    """Bucket of ``key`` in hash row ``row``: the md5-derived 32-bit
    uniform (same engine-portable construction as
    corpus.deterministic_uniform) reduced mod ``width``. The row index
    is baked into the hashed string, so the ``depth`` rows are
    independent hash functions derived from one md5."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}:{row}:"), key)), 1, 8),
            16,
            10,
        ).cast("long")
        % width
    )


def cms_sketch(
    df: DataFrame,
    col: str,
    width: int = 128,
    depth: int = 4,
    seed: str = "cms",
) -> DataFrame:
    """COUNT-MIN SKETCH build: the mergeable frequency summary for
    streams/shards too wide for an exact per-key count. Output is the
    sketch itself — ``(i, bucket, c)`` with at most ``depth·width``
    rows — so two shards' sketches merge by summing counters
    (``union → groupBy(i, bucket) → sum``), the property
    :func:`frequent_items_mg` (capacity-bounded but merge-hostile
    candidates) does not give.

    Point estimates (:func:`cms_estimate`) are upper bounds: est ≥ true,
    and est ≤ true + εN with ε = e/width at the usual confidence
    1 − e^−depth — collisions only ever ADD. All arithmetic is exact
    integers on md5-derived buckets, so the sketch is bit-identical
    across engines and partitionings (a DuckDB twin can rebuild it in
    SQL — see plans/corpus_queries.py:events_cms_user_counts).

    Scale shape: one projection exploding each row into ``depth``
    (i, bucket) pairs, one map-side-combined groupBy whose shuffle is
    capacity-bounded at depth·width rows per task — never
    distinct-bounded. The sketch never holds keys, only counters.
    """
    key = F.col(col).cast("string")
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("i"),
                _cms_bucket(key, i, seed, width).alias("bucket"),
            )
            for i in range(depth)
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.i").alias("i"), F.col("p.bucket").alias("bucket"))
        .agg(F.count("*").cast("long").alias("c"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    col: str,
    width: int = 128,
    depth: int = 4,
    seed: str = "cms",
) -> DataFrame:
    """Point-query a :func:`cms_sketch`: for each candidate key, the
    estimate is min over the ``depth`` rows of the counter its hash
    lands in (missing bucket ⇒ 0). ``width``/``depth``/``seed`` must
    match the build. The sketch (≤ depth·width rows) is broadcast, so
    estimating any number of candidates is one map-side join — no
    shuffle of the candidate set."""
    key = F.col(col).cast("string")
    cand = keys.select(
        F.col(col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("i"),
                        _cms_bucket(key, i, seed, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("p"),
    ).select(col, F.col("p.i").alias("i"), F.col("p.bucket").alias("bucket"))
    return (
        cand.join(F.broadcast(sketch), ["i", "bucket"], "left")
        .groupBy(col)
        .agg(
            F.min(F.coalesce(F.col("c"), F.lit(0)))
            .cast("long")
            .alias("cms_estimate")
        )
    )


def skyline_band_candidates(
    df: DataFrame, x_col: str, y_col: str, band_width: int
) -> DataFrame:
    """Phase 1 of :func:`skyline_2d`: band-prune to the O(frontier)
    candidate set (every frontier row survives; most dominated rows
    don't). Exposed separately so the candidate-count bound — the
    SEMANTIC property that makes the phase-2 broadcast anti-join safe,
    which tools/plan_audit.py records as a semantic whitelist tier —
    stays pinned by a test on the real code path
    (tests/test_analytic_ext.py::test_skyline_band_prune_bound)."""
    pts = df.withColumn("__band", F.expr(f"{x_col} div {band_width}"))
    band_max = pts.groupBy("__band").agg(F.max(y_col).alias("__ymax"))
    wb = Window.orderBy("__band").rowsBetween(Window.unboundedPreceding, -1)
    prev = band_max.select(
        "__band", F.max("__ymax").over(wb).alias("__prev")
    )
    return (
        pts.join(F.broadcast(prev), "__band")
        .filter(F.col("__prev").isNull() | (F.col(y_col) >= F.col("__prev")))
        .drop("__band", "__prev")
    )


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    band_width: int,
) -> DataFrame:
    """Pareto frontier (skyline) in 2-D: the rows no other row
    dominates, where domination means ``x`` (minimize) no worse AND
    ``y`` (maximize) no worse, with at least one strictly better. The
    classic multi-criteria exploration query (cheapest-vs-largest,
    fastest-vs-freshest); no reference counterpart — extension operator.

    Naively this is a quadratic NOT EXISTS self-join (the oracle runs
    exactly that, so the gate validates the pruning). Scale shape is
    TWO-PHASE:

    1. **Band prune** — bucket ``x`` by integer ``div band_width``; a
       tiny per-band ``max(y)`` aggregate (map-side combined) yields,
       per band, the best ``y`` of all STRICTLY CHEAPER bands (running
       max over the band frame, which is aggregate-bounded:
       x-range/band_width rows, never the data). Any row whose ``y``
       falls below that is dominated by some strictly-cheaper row and
       is dropped in a broadcast-join filter — one scan, no shuffle of
       the data beyond the band aggregate.
    2. **Exact finish** — dominance anti-join among the survivors
       only. Survivors are rows within one band of the frontier in
       ``y``; pick ``band_width`` near the x-spread of a frontier step
       so this set is O(frontier), and the broadcast nested-loop the
       anti-join plans to is over a small candidate set, never the
       full table.

    ``x_col`` must be integral (cast money to cents upstream — float
    band boundaries round nondeterministically). Negative x is safe —
    ``div`` truncates toward zero, which keeps bands monotone in x and
    only doubles band 0's width (slightly weaker pruning there); shift
    x non-negative upstream if that band grows hot. Ties: two
    identical points dominate neither; both survive.
    """
    cand = skyline_band_candidates(df, x_col, y_col, band_width)
    dom = cand.select(
        F.col(x_col).alias("__dx"), F.col(y_col).alias("__dy")
    )
    dominated = (
        (F.col("__dx") <= F.col(x_col))
        & (F.col("__dy") >= F.col(y_col))
        & ((F.col("__dx") < F.col(x_col)) | (F.col("__dy") > F.col(y_col)))
    )
    return cand.join(F.broadcast(dom), on=dominated, how="left_anti")


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between two groups — the
    nonparametric two-sample monitor (did segment A's spend
    distribution shift vs B's?) that, unlike the t-test, needs no
    normality assumption. Returns one row: n_a, n_b, U for group a,
    its null mean/stddev (tie-corrected), and the z statistic.

    ``value_col`` must be integral (cast money to cents upstream): the
    whole computation is EXACT integer/decimal arithmetic until the
    final fixed-order IEEE formulas, so the result is bit-stable under
    any partitioning and shared verbatim with the oracle (the s12
    discipline; a built-in ``rank()`` + double sum would be neither).

    Scale shape: ranks are never materialized per row. Values collapse
    to (value, count_a, count_b) — one map-side-combined aggregate —
    and each distinct value's doubled midrank comes from
    :func:`_doubled_avg_ranks` (the two-phase prefix kernel over the
    distinct-value frame): no partition-less window even when the
    distinct-value count scales with the data. Tie handling is the
    textbook average-rank: a value with t ties contributes
    c_a·(2·before + t + 1)/2 to group a's rank sum — kept doubled
    (integer) until the end.
    """
    d = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value_col).cast("long").alias("__v"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("__is_a"),
    )
    vc = d.groupBy("__v").agg(
        F.sum("__is_a").cast("long").alias("__c1"),
        F.sum(1 - F.col("__is_a")).cast("long").alias("__c2"),
        F.count("*").alias("__t"),
    )
    g = _doubled_avg_ranks(vc, "__v")
    avg2 = F.col("__r2")  # doubled average rank of the tie block
    td = F.col("__t").cast("decimal(38,0)")
    base = g.agg(
        F.sum("__c1").cast("long").alias("n_a"),
        F.sum("__c2").cast("long").alias("n_b"),
        F.sum(F.col("__c1").cast("decimal(38,0)") * avg2).alias("__r1_2"),
        F.sum(td * td * td - td).alias("__ties"),
    )
    n1 = F.col("n_a").cast("double")
    n2 = F.col("n_b").cast("double")
    nn = n1 + n2
    u_a = (F.col("__r1_2").cast("double") - n1 * (n1 + F.lit(1.0))) / F.lit(2.0)
    mu = n1 * n2 / F.lit(2.0)
    sigma = F.sqrt(
        n1
        * n2
        / F.lit(12.0)
        * (
            (nn + F.lit(1.0))
            - F.col("__ties").cast("double") / (nn * (nn - F.lit(1.0)))
        )
    )
    return base.select(
        "n_a",
        "n_b",
        u_a.alias("u_a"),
        mu.alias("mu_u"),
        sigma.alias("sigma_u"),
        ((u_a - mu) / sigma).alias("z"),
    )


def kruskal_wallis(
    df: DataFrame, value_col: str, group_col: str, groups: list[str]
) -> DataFrame:
    """Kruskal-Wallis H test across ``groups`` — the k-group extension
    of :func:`mann_whitney_u` (one-way ANOVA on ranks, no normality
    assumption): did the value distribution shift across ALL segments
    at once? Returns one row: n_total, df (k-1), h, and the
    tie-corrected h_c.

    ``value_col`` must be integral (the s12/MWU discipline): rank sums
    stay EXACT integers (doubled average ranks) until the final
    fixed-order IEEE expression, so the result is bit-stable under any
    partitioning and shared verbatim with the oracle.

    Scale shape: same as MWU — values collapse to (value, per-group
    counts) in one map-side-combined aggregate (groups land as COLUMNS
    via conditional sums, the ANOVA pivot, so the cross-group reduction
    is a fixed expression tree, never a partition-order double sum);
    each distinct value's doubled midrank comes from
    :func:`_doubled_avg_ranks` — no partition-less window even when the
    distinct-value count scales with the data.
    """
    k = len(groups)
    d = df.filter(F.col(group_col).isin(groups)).select(
        F.col(value_col).cast("long").alias("__v"), F.col(group_col).alias("__g")
    )
    vc = d.groupBy("__v").agg(
        *[
            F.sum(F.when(F.col("__g") == g, 1).otherwise(0))
            .cast("long")
            .alias(f"__c{i}")
            for i, g in enumerate(groups)
        ],
        F.count("*").alias("__t"),
    )
    g = _doubled_avg_ranks(vc, "__v")
    avg2 = F.col("__r2").cast("decimal(38,0)")
    td = F.col("__t").cast("decimal(38,0)")
    base = g.agg(
        *[
            F.sum(F.col(f"__c{i}")).cast("long").alias(f"n{i}")
            for i in range(k)
        ],
        *[
            F.sum(F.col(f"__c{i}").cast("decimal(38,0)") * avg2).alias(f"r2_{i}")
            for i in range(k)
        ],
        F.sum(td * td * td - td).alias("__ties"),
    )

    def dd(c: str) -> Column:
        return F.col(c).cast("double")

    n_total = F.col("n0")
    for i in range(1, k):
        n_total = n_total + F.col(f"n{i}")
    # Σ R_g²/n_g with R_g = r2_g/2 → Σ r2²/n / 4; H = 12/(N(N+1))·Σ − 3(N+1)
    term = dd("r2_0") * dd("r2_0") / dd("n0")
    for i in range(1, k):
        term = term + dd(f"r2_{i}") * dd(f"r2_{i}") / dd(f"n{i}")
    nd = n_total.cast("double")
    h = F.lit(3.0) * term / (nd * (nd + F.lit(1.0))) - F.lit(3.0) * (
        nd + F.lit(1.0)
    )
    corr = F.lit(1.0) - dd("__ties") / (nd * nd * nd - nd)
    return base.select(
        n_total.alias("n_total"),
        F.lit(k - 1).cast("int").alias("df"),
        h.alias("h"),
        (h / corr).alias("h_tie_corrected"),
    )


def roc_auc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """ROC AUC of a numeric score against a boolean label — the
    threshold-free ranking metric for classifier evaluation (does the
    quality score actually rank curated documents above the rest?).
    One row: ``(n_pos, n_neg, auc)`` with the probabilistic reading
    ``auc = P(s_pos > s_neg) + 0.5 * P(s_pos = s_neg)``.

    AUC IS the scaled Mann-Whitney statistic (``U_pos / (n_pos *
    n_neg)``), so this delegates to :func:`mann_whitney_u` and
    inherits its exactness contract: values collapse to per-distinct-
    score counts (map-side combinable), the rank prefix sum is
    two-phase (range repartition + per-partition offsets — never a
    partition-less window), tie blocks contribute textbook average
    ranks, and everything stays integer/decimal until the final
    fixed-order double formula shared verbatim with the oracle.
    ``score_col`` must be integral (cents idiom); a NULL label counts
    as negative.
    """
    lab = F.when(F.col(label_col).cast("boolean"), F.lit("p")).otherwise(F.lit("n"))
    base = mann_whitney_u(
        df.select(F.col(score_col).alias("__s"), lab.alias("__g")),
        "__s",
        "__g",
        "p",
        "n",
    )
    return base.select(
        F.col("n_a").alias("n_pos"),
        F.col("n_b").alias("n_neg"),
        (
            F.col("u_a")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ).alias("auc"),
    )


def _doubled_avg_ranks(vc: DataFrame, col: str) -> DataFrame:
    """The one midrank helper of the rank tests. ``vc`` is a
    per-DISTINCT-value count frame: one row per value of ``col`` with
    its tie count ``__t`` (any other columns are kept). Returns ``vc``
    plus ``__r2 = 2·before + t + 1``, the DOUBLED average rank of the
    value's tie block (``before`` = rows with a smaller value), kept
    integer until the caller's final formula. The prefix is
    ``keys.running_total`` over ``col`` ascending (NULLS FIRST), whose
    lineage cut runs the input scan and the distinct-value aggregate
    once, however many branches read the ranked frame.
    """
    from sfcrimedatapipeline_spark.operators.keys import running_total

    before = F.col("__run") - F.col("__t")
    return running_total(vc, [F.asc(col)], "__t", "__run").select(
        *vc.columns, (before * 2 + F.col("__t") + 1).alias("__r2")
    )


def spearman_rho(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Spearman rank correlation between two integral columns — the
    monotone-association monitor (does lead time grow with order
    value?) that, unlike Pearson on raw values, is outlier-robust and
    scale-free. One row: ``(n, rho)``.

    Tie-corrected the textbook way: Pearson computed ON MIDRANKS.
    Ranks are never materialized by a global window — each column's
    DOUBLED midrank per distinct value comes from the two-phase prefix
    machinery (:func:`_doubled_avg_ranks`), joins back on the value,
    and the correlation reduces to one pass of exact BIGINT/DECIMAL
    moment sums over doubled ranks (doubling cancels in the formula).
    Final formula is the fixed-order IEEE expression shared verbatim
    with the oracle: ``(n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)·(n·Syy −
    Sy²))`` — sqrt is correctly-rounded per IEEE 754, so it is
    engine-stable, unlike ln (the s12 discipline).
    """
    d = df.select(
        F.col(col_a).cast("long").alias("__a"),
        F.col(col_b).cast("long").alias("__b"),
    )

    def midranks(c: str, alias: str) -> DataFrame:
        vc = d.groupBy(c).agg(F.count("*").cast("long").alias("__t"))
        return _doubled_avg_ranks(vc, c).select(c, F.col("__r2").alias(alias))

    ra = midranks("__a", "__ra2")
    rb = midranks("__b", "__rb2")
    j = d.join(ra, "__a").join(rb, "__b")
    xd = F.col("__ra2").cast("decimal(38,0)")
    yd = F.col("__rb2").cast("decimal(38,0)")
    m = j.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__ra2").cast("long").alias("sx"),
        F.sum("__rb2").cast("long").alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    num = F.col("sxy").cast("double") * nd - sx * sy
    den = F.sqrt(
        (F.col("sxx").cast("double") * nd - sx * sx)
        * (F.col("syy").cast("double") * nd - sy * sy)
    )
    return m.select("n", (num / den).alias("rho"))


def runs_test(
    df: DataFrame, value_col: str, order_col: str
) -> DataFrame:
    """Wald-Wolfowitz runs test over an ordered integer series: is the
    sequence of above/below-median signs random, or does it cluster
    (trend/regime) or alternate (overdispersion)? The classic
    randomness screen for a daily KPI series.

    ALL-INTEGER core: callers pass integer values (counts, cents); the
    reference level is the exact LOWER median (1-based rank
    (n+1) div 2 — the robust_outliers_mad idiom), values EQUAL to the
    median are excluded (the classical treatment of ties at the
    median), and the run count is an exact lag-comparison sum. The
    normal-approximation statistics are each ONE arithmetic expression
    over those exact integers (double divisions + a correctly-rounded
    sqrt), so every output bit is engine-identical. Degenerate series
    (all values on one side, or sigma = 0) yield NULL mu/sigma/z by
    explicit guard on BOTH engines.

    Scale shape: the input is expected to be an aggregate-bounded
    series (daily/hourly rollup — calendar-bounded regardless of fact
    cardinality), so the partition-less rank/lag windows run over a
    frame that is already small by construction; the result is one
    row. Two scalar broadcasts (n, median) ride 1-row crossJoins, the
    whitelisted scalar-total shape.

    Output: (n_above, n_below, n_runs, mu, sigma, z).
    """
    base = df.select(
        F.col(order_col).alias("__t"), F.col(value_col).cast("long").alias("__v")
    )
    n_row = base.agg(F.count("*").cast("long").alias("__n"))
    wr = Window.orderBy("__v", "__t")
    ranked = base.crossJoin(F.broadcast(n_row)).select(
        "__t", "__v", "__n", F.row_number().over(wr).alias("__r")
    )
    med_row = ranked.filter(
        F.col("__r") == F.expr("(__n + 1) DIV 2")
    ).select(F.col("__v").alias("__med"))
    signed = (
        base.crossJoin(F.broadcast(med_row))
        .filter(F.col("__v") != F.col("__med"))
        .select("__t", (F.col("__v") > F.col("__med")).alias("__s"))
    )
    wl = Window.orderBy("__t")
    lagged = signed.select(
        "__s", F.lag("__s").over(wl).alias("__p")
    )
    zero = F.lit(0).cast("long")
    agg = lagged.agg(
        F.coalesce(
            F.sum(F.when(F.col("__s"), 1).otherwise(0)).cast("long"), zero
        ).alias("n_above"),
        F.coalesce(
            F.sum(F.when(~F.col("__s"), 1).otherwise(0)).cast("long"), zero
        ).alias("n_below"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("__p").isNull() | (F.col("__p") != F.col("__s")), 1
                ).otherwise(0)
            ).cast("long"),
            zero,
        ).alias("n_runs"),
    )
    n1, n2, r = F.col("n_above"), F.col("n_below"), F.col("n_runs")
    n = n1 + n2
    two_ab = F.lit(2) * n1 * n2
    mu = F.lit(1.0) + two_ab.cast("double") / n.cast("double")
    var_num = two_ab * (two_ab - n)
    var_den = n * n * (n - F.lit(1))
    sigma = F.sqrt(var_num.cast("double") / var_den.cast("double"))
    ok = (n1 > 0) & (n2 > 0) & (n > 1) & (var_num > 0)
    return agg.select(
        "n_above",
        "n_below",
        "n_runs",
        F.when(n > 0, mu).alias("mu"),
        F.when(ok, sigma).alias("sigma"),
        F.when(ok, (r.cast("double") - mu) / sigma).alias("z"),
    )


#: bootstrap resample count and the percentile ranks it implies
BOOT_B = 200
BOOT_SEED = 17
BOOT_LO_RANK = 5    # ceil(0.025 * BOOT_B)
BOOT_HI_RANK = 195  # ceil(0.975 * BOOT_B)


def bootstrap_mean_ci(
    df: DataFrame, value_col: str, order_col: str
) -> DataFrame:
    """Nonparametric bootstrap CI for the mean of an ordered integer
    series — the distribution-free uncertainty band a KPI dashboard
    puts around "mean daily revenue". B deterministic resamples: draw
    j = 1..n picks per resample b with the portable-hash coin
    h(b_j) % n (engine-identical, partition-free — the stratified-
    sample idiom), so the WHOLE bootstrap replays bit-for-bit on any
    engine: resample means are exact-integer sums over one double
    division, the CI bounds are order statistics at fixed integer
    ranks (2.5%/97.5% of B), and the bootstrap SE is an fx-exact
    moment pair.

    Scale shape: the grid is B × n rows where n is an
    aggregate-bounded series length (daily rollup — calendar-bounded),
    never fact cardinality; one join back to the indexed series, one
    groupBy(b), one B-bounded rank window, 1-row scalar assembly.

    Output one row: (n_days, b_resamples, mean_obs, se, ci_lo, ci_hi).
    """
    from sfcrimedatapipeline_spark.functions.hashing import portable_hash64

    base = df.select(
        F.col(order_col).alias("__d"), F.col(value_col).cast("long").alias("__y")
    )
    wi = Window.orderBy("__d")
    idx = base.select(
        "__y", F.row_number().over(wi).cast("long").alias("__i")
    )
    n_row = base.agg(F.count("*").cast("long").alias("__n"))
    grid = (
        idx.select(F.col("__i").alias("__j"))
        .crossJoin(F.broadcast(n_row))
        .select(
            "__j",
            "__n",
            F.explode(F.sequence(F.lit(1), F.lit(BOOT_B))).alias("__b"),
        )
    )
    pick = (
        F.pmod(
            portable_hash64(
                F.concat_ws(
                    "_", F.col("__b").cast("string"), F.col("__j").cast("string")
                ),
                BOOT_SEED,
            ),
            F.col("__n"),
        )
        + 1
    )
    picks = grid.select("__b", "__n", pick.alias("__i")).join(idx, "__i")
    # per-resample SUM stays an exact integer; the mean is one double
    # division; the SE moments sum the exact integer sums in
    # DECIMAL(38,0) (sy² ≈ 1e21 ≪ 1e38 — no fx quantization needed,
    # and the fx path would overflow F.floor's LONG on m²·2^40 anyway)
    sums = picks.groupBy("__b").agg(
        F.sum("__y").cast("long").alias("__sy"),
        F.max("__n").alias("__bn"),
    )
    means = sums.select(
        "__b",
        "__sy",
        (F.col("__sy").cast("double") / F.col("__bn").cast("double")).alias(
            "__m"
        ),
    )
    wr = Window.orderBy("__m", "__b")
    ranked = means.withColumn("__r", F.row_number().over(wr))
    bounds = ranked.agg(
        F.max(F.when(F.col("__r") == BOOT_LO_RANK, F.col("__m"))).alias("ci_lo"),
        F.max(F.when(F.col("__r") == BOOT_HI_RANK, F.col("__m"))).alias("ci_hi"),
    )
    sy_dec = F.col("__sy").cast("decimal(19,0)")
    mstats = means.agg(
        F.sum(sy_dec).alias("__s1"),
        F.sum(sy_dec * sy_dec).alias("__s2"),
    )
    obs = base.agg(F.sum("__y").cast("long").alias("__ty"))
    bf = float(BOOT_B)
    s1d = F.col("__s1").cast("double")
    s2d = F.col("__s2").cast("double")
    var_sy = (
        (s2d / F.lit(bf) - (s1d / F.lit(bf)) * (s1d / F.lit(bf)))
        * F.lit(bf)
        / F.lit(bf - 1.0)
    )
    return (
        n_row.crossJoin(F.broadcast(obs))
        .crossJoin(F.broadcast(mstats))
        .crossJoin(F.broadcast(bounds))
        .select(
            F.col("__n").alias("n_days"),
            F.lit(BOOT_B).cast("long").alias("b_resamples"),
            (F.col("__ty").cast("double") / F.col("__n").cast("double")).alias(
                "mean_obs"
            ),
            F.when(
                var_sy > 0.0, F.sqrt(var_sy) / F.col("__n").cast("double")
            ).alias("se"),
            "ci_lo",
            "ci_hi",
        )
    )
