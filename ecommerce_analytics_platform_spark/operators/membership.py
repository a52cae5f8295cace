"""Probabilistic membership & frequency structures: Bloom filter and
Count-Min sketch, built as *relations* so they merge and broadcast the way
a 100 TB pipeline needs.

Beyond the reference surface (it has no sketch ops): these are the two
workhorses of large-scale training-data plumbing — Bloom filters for
membership pushdown (decontamination against a seen-URL set, delta-vs-corpus
dedup prefilters, semi-join runtime filters) and Count-Min for heavy-hitter
frequency estimation (boilerplate detection, hot-key diagnosis before a
skewed join).

Design stance (same as ``functions/text.py``'s MinHash): every hash is the
portable seeded md5-based family from ``functions/compat.py`` — bit-identical
in Spark and DuckDB — so the *entire* structure (bit positions, counters,
estimates, false positives included) is deterministic and exactly
reproducible by a SQL oracle. No engine-internal sketch formats.

Scale shape:

- **Build is one scan + one bounded shuffle.** Positions/cells are exploded
  JVM-side (k or d small constants) and reduced by ``distinct``/``groupBy``
  whose result size is bounded by the STRUCTURE size (≤ m bits, ≤ d·w
  cells), never by the data size. Partial aggregation does the per-partition
  combine map-side, so the shuffle carries at most one row per set bit /
  touched cell per partition.
- **The built structure is a relation** (``pos`` rows / ``(row_idx, col_idx,
  cnt)`` rows): two filters built on different days merge with
  ``union().distinct()`` (Bloom) or ``groupBy().sum()`` (CMS) — the
  mergeability that makes sketches per-partition-parallel at any scale.
- **Probe is map-side only.** ``bloom_bitmap`` packs the position relation
  into ``m/64`` int64 words (driver memory = the filter size itself, the
  thing you'd broadcast anyway) and ``bloom_probe`` tests k bits with pure
  codegen'd shift/AND arithmetic against the broadcast literal — zero
  shuffle, usable as a pushed-down prefilter in front of an expensive join.
  CMS lookup joins d broadcast cells per key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ecommerce_analytics_platform_spark.functions.compat import (
    seeded_hash60,
    seeded_hash60_sql,
)


def bloom_position_cols(col: Column | str, m_bits: int, k: int, seed: int) -> list[Column]:
    """k bit positions for one value: ``seeded_hash60(seed+i, x) mod m``.

    ``seeded_hash60`` output is non-negative (< 2^60), so plain ``%`` is
    already the canonical mod.
    """
    c = F.col(col) if isinstance(col, str) else col
    return [(seeded_hash60(c, seed + i) % F.lit(m_bits)).alias(f"pos{i}") for i in range(k)]


def bloom_build(df: DataFrame, col: str, m_bits: int, k: int = 4, seed: int = 101) -> DataFrame:
    """Build a Bloom filter over ``df[col]`` as a position relation
    ``(pos: long)`` — the set bits, ≤ min(n·k, m_bits) rows.

    ``distinct`` bounds the shuffle output by the filter size; two filters
    merge with ``union().distinct()``.
    """
    pos = df.select(F.explode(F.array(*bloom_position_cols(col, m_bits, k, seed))).alias("pos"))
    return pos.distinct()


def bloom_bitmap(positions: DataFrame, m_bits: int) -> list[int]:
    """Pack the position relation into ``ceil(m/64)`` signed int64 words
    (word ``p >> 6``, bit ``p & 63``). The collect is bounded by the filter
    size — exactly the bytes a probe must broadcast anyway."""
    words = [0] * ((m_bits + 63) // 64)
    for r in positions.collect():
        p = int(r["pos"])
        words[p >> 6] |= 1 << (p & 63)
    # two's-complement fold into signed int64 so F.lit stays in LongType
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_probe(
    df: DataFrame,
    col: str,
    bitmap: list[int],
    m_bits: int,
    k: int = 4,
    seed: int = 101,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Map-side membership test: all k bits set ⇒ hit (no false negatives
    by construction; false positives at the classic ``(1-e^{-kn/m})^k``
    rate). The bitmap rides in the plan as an array literal — broadcast by
    construction, tested with codegen'd shift/AND, no shuffle, no UDF.
    Bit test = ``getbit(word, pos % 64)`` — two's-complement bit indexing,
    sign-safe for the top bit of each word.
    """
    words = F.array(*[F.lit(w) for w in bitmap])
    hit = F.lit(True)
    for pos in bloom_position_cols(col, m_bits, k, seed):
        word = F.element_at(words, (pos / F.lit(64)).cast("int") + F.lit(1))
        hit = hit & (F.getbit(word, pos % F.lit(64)) == 1)
    return df.withColumn(out_col, hit)


def bloom_position_sql(expr: str, m_bits: int, i: int, seed: int) -> str:
    """DuckDB twin of one member of :func:`bloom_position_cols`."""
    return f"({seeded_hash60_sql(expr, seed + i)} % {m_bits})"


def cms_cell_cols(col: Column | str, width: int, depth: int, seed: int) -> list[Column]:
    """One ``(row_idx, col_idx)`` struct per sketch row for one value."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.struct(
            F.lit(i).alias("row_idx"),
            (seeded_hash60(c, seed + i) % F.lit(width)).alias("col_idx"),
        )
        for i in range(depth)
    ]


def cms_build(df: DataFrame, col: str, width: int, depth: int = 3, seed: int = 202) -> DataFrame:
    """Count-Min sketch over ``df[col]`` as a counter relation
    ``(row_idx, col_idx, cnt)`` — ≤ depth·width rows regardless of data
    size. Two sketches merge with ``unionByName().groupBy(row_idx,
    col_idx).sum(cnt)`` (counter addition — CMS is a linear sketch)."""
    cells = df.select(F.explode(F.array(*cms_cell_cols(col, width, depth, seed))).alias("c"))
    return (
        cells.select("c.row_idx", "c.col_idx")
        .groupBy("row_idx", "col_idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_lookup(
    keys: DataFrame,
    col: str,
    sketch: DataFrame,
    width: int,
    depth: int = 3,
    seed: int = 202,
    out_col: str = "cms_est",
) -> DataFrame:
    """Point estimate per key: min over the d counters the key hashes to.
    One explode (d rows per key) + a broadcast join against the ≤ d·w-row
    sketch + a min re-agg on the key — never a shuffle of the sketch.
    Guarantee: est ≥ true count (never under), est ≤ true + εN with
    ε = e/width at the usual confidence.

    Row contract (ADVICE r4): output has one row per DISTINCT input row —
    the probe re-agg groups by all of ``keys``' columns, so exact
    duplicates collapse; tag rows with ``monotonically_increasing_id``
    first if duplicate cardinality must be preserved. Internal probe
    columns are ``__cms``-prefixed so caller columns can't collide."""
    if any(c in keys.columns for c in ("__cms_row", "__cms_col", "__cms_cnt")):
        raise ValueError("keys must not contain __cms_* columns")
    sk = sketch.select(
        F.col("row_idx").alias("__cms_row"),
        F.col("col_idx").alias("__cms_col"),
        F.col("cnt").alias("__cms_cnt"),
    )
    probes = keys.select(
        "*", F.explode(F.array(*cms_cell_cols(col, width, depth, seed))).alias("__c")
    ).select(
        "*", F.col("__c.row_idx").alias("__cms_row"), F.col("__c.col_idx").alias("__cms_col")
    ).drop("__c")
    joined = probes.join(F.broadcast(sk), ["__cms_row", "__cms_col"], "left").withColumn(
        "__cms_cnt", F.coalesce(F.col("__cms_cnt"), F.lit(0))
    )
    others = [c for c in keys.columns]
    return joined.groupBy(*others).agg(F.min("__cms_cnt").alias(out_col))


def cms_cell_sql(expr: str, width: int, i: int, seed: int) -> str:
    """DuckDB twin of one row's column index in :func:`cms_cell_cols`."""
    return f"({seeded_hash60_sql(expr, seed + i)} % {width})"


def hll_rho_cols(col: Column | str, b: int, seed: int) -> tuple[Column, Column]:
    """(bucket, rho) for one value under the portable-HLL spec: 60-bit
    portable hash split into a ``b``-bit bucket (low bits) and a
    ``W = 60-b``-bit word ``w``; rho = leading-zero count of ``w`` within
    W bits, plus one (``w == 0`` ⇒ rho = W+1).

    ``floor(log2(w))`` is floor-safe in IEEE double for w < 2^53 (the
    nearest double to log2(2^k − 1) is strictly below k), so both engines
    compute the identical integer rho without any bit-string helpers.
    That argument needs ``w`` exactly representable ⇒ ``60 − b ≤ 53`` —
    enforced (b ≥ 7 also keeps the register table small enough to always
    broadcast, so the constraint costs nothing in practice).
    """
    if b < 7:
        raise ValueError("portable HLL requires b >= 7 (w must fit in 53 bits)")
    c = F.col(col) if isinstance(col, str) else col
    h = seeded_hash60(c, seed)
    m = 1 << b
    w_bits = 60 - b
    bucket = h.bitwiseAND(F.lit(m - 1))
    w = F.shiftright(h, b)
    rho = F.when(w == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits) - F.floor(F.log2(w)).cast("int")
    )
    return bucket, rho.cast("int")


def hll_build(df: DataFrame, col: str, group_cols: list[str], b: int = 8, seed: int = 303) -> DataFrame:
    """Portable HLL registers per group: ``(group..., bucket, rmax)`` —
    ≤ 2^b rows per group regardless of data size. Registers from different
    partitions/days merge with ``groupBy(group, bucket).max(rmax)`` — the
    HLL merge IS the max, which partial aggregation already performs
    map-side, so the shuffle carries at most one register per bucket per
    partition. Unlike engine-native HLL sketches (opaque binary, engine-
    specific), this register relation is reproduced bit-for-bit by a SQL
    oracle — the estimate itself is hash-checkable cross-engine."""
    bucket, rho = hll_rho_cols(col, b, seed)
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rmax"))
    )


def hll_alpha(m: int) -> float:
    """Bias-correction constant (Flajolet et al. 2007); a shortest-repr
    double literal, parsed to the identical double by Spark and DuckDB."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_estimate(registers: DataFrame, group_cols: list[str], b: int = 8, round_digits: int = 6) -> DataFrame:
    """Cardinality estimate per group from a register relation.

    Exact-arithmetic core: Σ 2^(−rho) is carried as the INTEGER
    Σ 2^(R−rho) (R = W+1 = max rho) in DECIMAL(38,0) — absent buckets
    (rho=0) contribute 2^R each — so the harmonic sum is summation-order-
    independent and bit-identical cross-engine; the raw estimate
    α·m²·2^R / S divides exact integers in double. Small-range correction:
    raw ≤ 2.5m with V empty buckets ⇒ linear counting m·ln(m/V) (the one
    ln, rounded like every cross-engine ln in this repo). Output:
    ``(group..., hll_est)``.
    """
    m = 1 << b
    r_top = (60 - b) + 1
    alpha = hll_alpha(m)
    stats = registers.groupBy(*group_cols).agg(
        F.sum(
            F.expr(f"CAST(shiftleft(CAST(1 AS BIGINT), {r_top} - rmax) AS DECIMAL(38,0))")
        ).alias("s_present"),
        F.count(F.lit(1)).alias("nonzero"),
    )
    v = F.lit(m) - F.col("nonzero")
    s_total = (
        F.col("s_present")
        + v.cast("decimal(38,0)") * F.lit(1 << r_top).cast("decimal(38,0)")
    )
    raw = F.lit(alpha * m * m * float(1 << r_top)) / s_total.cast("double")
    est = F.when(
        (raw <= 2.5 * m) & (v > 0), F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / v), round_digits)
    ).otherwise(F.round(raw, round_digits))
    return stats.select(*group_cols, est.alias("hll_est"))


def hll_rho_sql(expr: str, b: int, seed: int) -> tuple[str, str]:
    """DuckDB twins of :func:`hll_rho_cols` — (bucket_sql, rho_sql)."""
    m = 1 << b
    w_bits = 60 - b
    h = seeded_hash60_sql(expr, seed)
    w = f"({h} >> {b})"
    bucket = f"({h} & {m - 1})"
    rho = f"(CASE WHEN {w} = 0 THEN {w_bits + 1} ELSE {w_bits} - CAST(floor(log2({w})) AS INT) END)"
    return bucket, rho


def hll_estimate_sql(registers_cte: str, group_cols: list[str], b: int = 8, round_digits: int = 6) -> str:
    """DuckDB twin of :func:`hll_estimate` over a registers CTE with
    columns ``(group..., bucket, rmax)``."""
    m = 1 << b
    r_top = (60 - b) + 1
    alpha = hll_alpha(m)
    g = ", ".join(group_cols)
    coef = repr(alpha * m * m * float(1 << r_top))
    return f"""
SELECT {g},
       CASE WHEN ({coef} / CAST(s_total AS DOUBLE)) <= {2.5 * m}
                 AND ({m} - nonzero) > 0
            THEN round({float(m)} * ln({float(m)} / ({m} - nonzero)), {round_digits})
            ELSE round({coef} / CAST(s_total AS DOUBLE), {round_digits})
       END AS hll_est
FROM (
    SELECT {g},
           sum(CAST((CAST(1 AS BIGINT) << ({r_top} - rmax)) AS DECIMAL(38,0)))
             + (({m} - count(*)) * CAST({1 << r_top} AS DECIMAL(38,0))) AS s_total,
           count(*) AS nonzero
    FROM {registers_cte} GROUP BY {g}
) s
"""


def dds_gamma(alpha: float) -> float:
    """DDSketch bin base: γ = (1+α)/(1−α) gives relative error ≤ α."""
    return (1.0 + alpha) / (1.0 - alpha)


def dds_build(
    df: DataFrame, col: str, group_cols: list[str], alpha: float = 0.02
) -> DataFrame:
    """DDSketch (Masson et al., VLDB 2019) bin relation per group:
    ``(group..., bin, cnt)`` with ``bin = ceil(ln(x)/ln γ)`` — the
    mergeable relative-error quantile sketch. Positive values only (the
    DDSketch positive store; callers route zeros/negatives separately).

    Bin count is bounded by the value RANGE, not the row count
    (ln(max/min)/ln γ bins — a few hundred for α=2% over 6 decades), so
    the shuffle output per group is constant-bounded and two sketches
    merge with ``groupBy(group, bin).sum(cnt)`` — the per-day →
    per-month quantile rollup that exact percentiles cannot do at 100 TB.
    Deterministic: the only float op is ln, identical-input cross-engine.
    """
    g = dds_gamma(alpha)
    import math

    lg = math.log(g)
    b = F.ceil(F.log(F.col(col)) / F.lit(lg)).cast("long")
    return (
        df.filter(F.col(col) > 0)
        .select(*group_cols, b.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dds_quantiles(
    bins: DataFrame,
    group_cols: list[str],
    qs: list[float],
    alpha: float = 0.02,
    round_digits: int = 4,
) -> DataFrame:
    """Quantile estimates from a DDSketch bin relation: for each q, the
    smallest bin whose cumulative count reaches ``ceil(q·n)``, mapped back
    to the bin midpoint 2γ^b/(γ+1). Output ``(group..., q, n, bin,
    dds_est)`` — ``bin`` is the exact integer the estimate derives from.
    One window over the (bounded) bin relation + a broadcast of the
    quantile list — never a sort of the raw data.

    ``dds_est`` is rounded via the decimal domain (round 6dp →
    DECIMAL(18,6) → round ``round_digits`` → double): a double rounded
    directly at 4dp can land on a shortest-repr half boundary where
    Spark's HALF_UP-on-repr and a C-round engine disagree; the two-stage
    decimal path makes the final double an exact 4-digit value both
    engines produce bit-identically."""
    g = dds_gamma(alpha)
    coef = 2.0 / (g + 1.0)
    w = Window.partitionBy(*group_cols).orderBy("bin")
    cum = bins.withColumn("cum", F.sum("cnt").over(w))
    n = bins.groupBy(*group_cols).agg(F.sum("cnt").alias("n"))
    from ecommerce_analytics_platform_spark.session import literal_df

    # Arrow-backed literal (r14): avoids Python workers on every scan
    qdf = literal_df(bins.sparkSession, [(float(q),) for q in qs], "q double")
    sel = (
        cum.join(n, group_cols)
        .crossJoin(F.broadcast(qdf))
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy(*group_cols, "q", "n")
        .agg(F.min("bin").alias("bin"))
    )
    est6 = F.round(F.lit(coef) * F.pow(F.lit(g), F.col("bin")), 6).cast("decimal(18,6)")
    est = F.round(est6, round_digits).cast("double")
    return sel.select(*group_cols, "q", "n", "bin", est.alias("dds_est"))


def kmv_build(
    df: DataFrame, col: str, group_cols: list[str], k: int = 256, seed: int = 404
) -> DataFrame:
    """KMV / theta-style distinct sketch per group: the k smallest distinct
    portable hashes — ``(group..., h)`` rows, ≤ k per group.

    Unlike HLL, KMV sketches support SET OPERATIONS: union = merge + keep
    k smallest; intersection via inclusion–exclusion (:func:`kmv_intersect`)
    — the estimator family behind "how many users did BOTH X and Y" at
    100 TB, where the exact answer needs a full distinct self-join.

    Physical shape: one shuffle of (group, hash) rows. A 64-way shard
    pre-cut (dense_rank ≤ k per (group, hash-shard), then final rank over
    ≤ 64k survivors) bounds every window's sort state; the global
    distinct-rank runs on survivors only. A bounded-state map-side partial
    agg would need a native UDAF — the shard cut is the SQL-expressible
    equivalent and keeps the plan whole-stage-codegen'd.
    """
    h = seeded_hash60(F.col(col), seed)
    shard = (h % F.lit(64)).alias("__shard")
    base = df.select(*group_cols, h.alias("h"), shard)
    w1 = Window.partitionBy(*group_cols, "__shard").orderBy("h")
    survivors = (
        base.withColumn("__r", F.dense_rank().over(w1))
        .filter(F.col("__r") <= k)
        .select(*group_cols, "h")
        .distinct()
    )
    w2 = Window.partitionBy(*group_cols).orderBy("h")
    return (
        survivors.withColumn("__r", F.row_number().over(w2))
        .filter(F.col("__r") <= k)
        .select(*group_cols, "h", F.col("__r").alias("r"))
    )


def _kmv_est(n_col: Column, kth: Column, k: int) -> Column:
    """KMV estimator: exact when the sketch is not full (fewer than k
    distinct hashes seen); else (k-1)/kth · 2^60 (hashes uniform on
    [0, 2^60))."""
    full = n_col >= k
    return F.when(full, F.lit(float(k - 1)) * F.lit(float(1 << 60)) / kth.cast("double")).otherwise(
        n_col.cast("double")
    )


def kmv_estimate(sketch: DataFrame, group_cols: list[str], k: int = 256) -> DataFrame:
    """Distinct-count estimate per group from a KMV sketch relation."""
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n"), F.max("h").alias("__kth")
    )
    return agg.select(
        *group_cols, F.round(_kmv_est(F.col("__n"), F.col("__kth"), k), 4).alias("kmv_est")
    )


def kmv_intersect(
    sketch: DataFrame,
    group_col: str,
    k: int = 256,
    round_digits: int = 4,
) -> DataFrame:
    """Pairwise distinct-intersection estimates between every two groups'
    KMV sketches via inclusion–exclusion: |A∩B| ≈ est(A) + est(B) −
    est(A∪B), clamped at 0. The union sketch is the k smallest of the
    merged hash multiset — computed per PAIR from the two k-row sketches
    (a ≤ 2k-row window per pair, never a touch of the raw data).

    Output: ``(grp_a < grp_b, est_a, est_b, est_union, inter_est)``.
    """
    a = sketch.select(F.col(group_col).alias("grp_a"), F.col("h").alias("ha"))
    b = sketch.select(F.col(group_col).alias("grp_b"), F.col("h").alias("hb"))
    pairs = (
        a.select("grp_a").distinct()
        .join(b.select("grp_b").distinct(), F.col("grp_a") < F.col("grp_b"))
    )
    merged = (
        pairs.join(a, "grp_a")
        .select("grp_a", "grp_b", F.col("ha").alias("h"))
        .unionByName(
            pairs.join(b, "grp_b").select("grp_a", "grp_b", F.col("hb").alias("h"))
        )
        .distinct()
    )
    w = Window.partitionBy("grp_a", "grp_b").orderBy("h")
    union_stats = (
        merged.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).alias("un"), F.max("h").alias("uk"))
    )
    one = sketch.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("kth"))
    ea = one.select(
        F.col(group_col).alias("grp_a"), _kmv_est(F.col("n"), F.col("kth"), k).alias("est_a")
    )
    eb = one.select(
        F.col(group_col).alias("grp_b"), _kmv_est(F.col("n"), F.col("kth"), k).alias("est_b")
    )
    out = (
        union_stats.join(ea, "grp_a")
        .join(eb, "grp_b")
        .withColumn("est_union", _kmv_est(F.col("un"), F.col("uk"), k))
    )
    inter = F.greatest(
        F.lit(0.0), F.col("est_a") + F.col("est_b") - F.col("est_union")
    )
    return out.select(
        "grp_a",
        "grp_b",
        F.round("est_a", round_digits).alias("est_a"),
        F.round("est_b", round_digits).alias("est_b"),
        F.round("est_union", round_digits).alias("est_union"),
        F.round(inter, round_digits).alias("inter_est"),
    )


def _py_positions(value, m_bits: int, k: int, seed: int) -> list[int]:
    """Driver-side twin of :func:`bloom_position_cols` (same md5 spec) —
    pytest-pinned equal to the Spark/SQL hashes via the membership tests."""
    import hashlib

    return [
        int(hashlib.md5(f"{seed + i}:{value}".encode()).hexdigest()[:15], 16) % m_bits
        for i in range(k)
    ]


def file_bloom_index(
    df: DataFrame, col: str, m_bits: int = 1 << 14, k: int = 4, seed: int = 101
) -> DataFrame:
    """Per-FILE Bloom index: ``(file, pos)`` — the set bit positions of
    each data file's key Bloom filter, built in one scan with
    ``input_file_name()``. This is the data-skipping index for POINT
    lookups on non-partition, non-sort columns, where min/max row-group
    stats and Z-order cannot prune (a needle key is inside every file's
    min/max range). Size: ≤ min(rows·k, m) rows per file. Persist it
    beside the table; rebuild only for new files (it unions per file).
    """
    pairs = df.select(
        F.expr("input_file_name()").alias("file"),
        F.explode(F.array(*bloom_position_cols(col, m_bits, k, seed))).alias("pos"),
    )
    return pairs.distinct()


def prune_files_for_key(
    index: DataFrame, value, m_bits: int = 1 << 14, k: int = 4, seed: int = 101
) -> list[str]:
    """Files that MAY contain ``value``: every one of the key's bit
    positions is set in the file's Bloom (no false negatives — a file
    holding the key is always returned; false positives at the classic
    rate just cost one extra file read). The index aggregation is one
    bounded groupBy; the lookup value hashes driver-side (same md5 spec).
    """
    want = sorted(set(_py_positions(value, m_bits, k, seed)))
    hits = (
        index.filter(F.col("pos").isin(want))
        .groupBy("file")
        .agg(F.countDistinct("pos").alias("n"))
        .filter(F.col("n") == len(want))
    )
    return sorted(r["file"] for r in hits.collect())

