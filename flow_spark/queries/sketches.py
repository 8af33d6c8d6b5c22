"""Distinct-count sketches.

Two tiers:

- ``sketch_kmv_distinct``: a K-Minimum-Values sketch built from scratch on
  a cross-engine-deterministic hash (md5 -> first 15 hex digits -> 60-bit
  int, bit-identical in Spark and DuckDB), so the ENTIRE sketch — kth
  minimum hash and the NDV estimate — is exactly oracle-checked.  KMV
  (Bar-Yossef et al. 2002): the k-th smallest of n uniform hashes in
  [0, M) sits near k*M/n, so n ≈ (k-1)*M/h_k.
- ``sketch_hll_native``: Spark's built-in DataSketches HLL
  (``hll_sketch_agg``) — the production path at 100 TB (fixed 2^lgk
  registers per group, mergeable across partitions).  The sketch binary
  and its estimate are implementation-defined, so no cross-engine value
  oracle exists.  Its registered invariant checks each estimate against the
  exact NDV DuckDB counts over the same table, within the HLL error bound.

The reference has no sketches (its only probabilistic structure is jump
hash, `pkg/util/hash/jump.go`); this is north-star engine surface for
100 TB cardinality work where exact COUNT(DISTINCT) shuffles every key.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from flow_spark.catalog import load_table
from flow_spark.functions.hashing import portable_hash_expr
from flow_spark.queries.registry import register

_K = 64
_M = float(2**60)  # hash domain size; 63.0 * 2^60 is exact in a double


@register(
    "sketch_kmv_distinct",
    category="sketch",
    doc="K-Minimum-Values NDV sketch (k=64) per l_returnflag over "
    "l_partkey, exactly oracle-checked: the hash is md5-derived 60-bit "
    "integers identical in both engines, the kth-min comes from a "
    "window row_number over the DISTINCT (group, hash) pairs, and the "
    "estimator (k-1)*M/h_k is one IEEE division. Scale shape: the "
    "distinct is one shuffle on (flag, hash); the per-group top-k "
    "window partitions on 3 keys but each partition is already reduced "
    "to distinct hashes — in production the same sketch is kept "
    "mergeable by taking per-partition k-mins first (partial agg), "
    "which approx_count_distinct does natively; exact NDV is joined "
    "alongside so the estimate's error is visible in the output.",
    oracle=f"""
        WITH h AS (
            SELECT DISTINCT l_returnflag AS flag,
                   CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
                        AS BIGINT) AS hv
            FROM lineitem
        ),
        ranked AS (
            SELECT flag, hv,
                   ROW_NUMBER() OVER (PARTITION BY flag ORDER BY hv) AS rn,
                   COUNT(*) OVER (PARTITION BY flag) AS n_exact
            FROM h
        )
        SELECT flag, n_exact, hv AS kth_hash,
               CAST(({_K - 1}.0 * {2**60}) / hv AS DOUBLE) AS ndv_estimate
        FROM ranked
        WHERE rn = {_K}
        ORDER BY flag
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    h = li.select(
        F.col("l_returnflag").alias("flag"),
        F.conv(
            F.substring(F.md5(F.col("l_partkey").cast("string").cast("binary")), 1, 15),
            16,
            10,
        )
        .cast("bigint")
        .alias("hv"),
    ).distinct()
    w = W.partitionBy("flag").orderBy("hv")
    ranked = h.select(
        "flag",
        "hv",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("flag")).alias("n_exact"),
    )
    return (
        ranked.filter(F.col("rn") == _K)
        .select(
            "flag",
            "n_exact",
            F.col("hv").alias("kth_hash"),
            (F.lit((_K - 1) * _M) / F.col("hv")).cast("double").alias("ndv_estimate"),
        )
        .orderBy("flag")
    )


#: DataSketches HLL at lgk=12: three relative standard errors of
#: 1.04/sqrt(2^12), about 4.9%
HLL_ERROR_BOUND = 3 * 1.04 / math.sqrt(1 << 12)


def hll_within_error_bound(con, cols: list[str], rows: list[tuple]) -> str | None:
    """Every flag's ``n_exact`` equals DuckDB's exact NDV and its
    ``ndv_estimate`` lies within HLL_ERROR_BOUND of it."""
    exact = dict(
        con.execute(
            "SELECT l_returnflag, COUNT(DISTINCT l_partkey) FROM lineitem GROUP BY 1"
        ).fetchall()
    )
    flag, est, n_exact = (cols.index(c) for c in ("flag", "ndv_estimate", "n_exact"))
    if sorted(r[flag] for r in rows) != sorted(exact):
        return f"flags {[r[flag] for r in rows]}, expected {sorted(exact)}"
    for r in rows:
        n = exact[r[flag]]
        if r[n_exact] != n:
            return f"flag {r[flag]}: n_exact {r[n_exact]}, exact NDV {n}"
        if abs(r[est] - n) > HLL_ERROR_BOUND * n:
            return f"flag {r[flag]}: estimate {r[est]} is more than {HLL_ERROR_BOUND:.1%} off {n}"
    return None


@register(
    "sketch_hll_native",
    category="sketch",
    # DataSketches HLL estimates are implementation-defined: no oracle SQL
    oracle=None,
    invariant=hll_within_error_bound,
    doc="Spark-native DataSketches HLL (hll_sketch_agg, lgk=12) NDV per "
    "l_returnflag — the mergeable production sketch: partial sketches "
    "combine associatively across partitions (map-side), so the shuffle "
    "carries 4 KB per group instead of every distinct key. No "
    "cross-engine value oracle exists for the sketch binary; the "
    "invariant holds each estimate within 3 standard errors (4.9%) of "
    "the exact NDV.",
)
def sketch_hll_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.expr("hll_sketch_estimate(hll_sketch_agg(l_partkey, 12))").alias(
                "ndv_estimate"
            ),
            F.countDistinct("l_partkey").alias("n_exact"),
        )
        .orderBy("flag")
    )


@register(
    "sketch_bitmap_distinct",
    category="sketch",
    doc="EXACT distinct count via fixed-size bitmaps (bitmap_bucket_number"
    " / bitmap_bit_position / bitmap_construct_agg / bitmap_count): keys "
    "map to (bucket, bit) with 32768 bits per bucket, partial bitmaps "
    "OR-combine map-side, and the final count is a sum of popcounts — "
    "the shuffle carries <=4 KB per (group, bucket) instead of every "
    "distinct key, yet the answer is exact (vs HLL's ~2% error). The "
    "key is spread as o_custkey*131 (injective, so NDV is preserved) "
    "to span multiple buckets even at small SF (+1 keeps it strictly "
    "positive — bucket numbering differs across engines at <=0). "
    "Oracle: plain COUNT(DISTINCT). The 100 TB shape for "
    "dense-integer-key NDV.",
    oracle="""
        SELECT o_orderpriority AS pri,
               COUNT(DISTINCT o_custkey) AS ndv,
               COUNT(DISTINCT (o_custkey * 131) // 32768) AS n_buckets
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY pri
    """,
)
def sketch_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        (F.col("o_custkey") * 131 + 1).alias("k"),
    )
    per_bucket = (
        o.select(
            "pri",
            F.expr("bitmap_bucket_number(k)").alias("bkt"),
            F.expr("bitmap_bit_position(k)").alias("pos"),
        )
        .groupBy("pri", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return (
        per_bucket.groupBy("pri")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).alias("ndv"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
        .orderBy("pri")
    )


@register(
    "sketch_heavy_hitters",
    category="sketch",
    doc="Misra-Gries heavy hitters, two-pass: pass 1 runs a capacity-32 "
    "MG summary per partition inside mapInPandas (batched decrement "
    "variant — add a batch's value_counts, then subtract the (k+1)-th "
    "largest count and drop non-positives, same frequency guarantee), "
    "whose union is a PROVEN superset of every token with global "
    "frequency > n/32 (pigeonhole over partitions: if an item is below "
    "its local threshold everywhere, summing gives count <= n/32); "
    "pass 2 exact-counts only the tiny candidate set via a broadcast "
    "semi-join and keeps 32*count > n, tested in integer space.  The "
    "result is therefore EXACT and partitioning-independent — the "
    "oracle is a plain GROUP BY ... HAVING — while the stream is read "
    "three times (sketch pass, candidate recount, count-only total — "
    "the last is pure-JVM columnar) but nothing resembling the full "
    "vocabulary ever crosses a shuffle, per-partition sketch state is "
    "O(k): the 100 TB shape for vocabulary/hot-key "
    "discovery over trillions of tokens.",
    oracle=f"""
        WITH t AS (
            SELECT unnest({{toks}}) AS tok FROM documents
        ),
        n AS (SELECT COUNT(*) AS n_total FROM t)
        SELECT tok, COUNT(*) AS cnt,
               (SELECT n_total FROM n) AS n_total
        FROM t
        GROUP BY tok
        HAVING 32 * COUNT(*) > (SELECT n_total FROM n)
        ORDER BY cnt DESC, tok
    """.format(
        toks="string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
    ),
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from flow_spark.operators.text import tokens

    _CAP = 32

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))

    def mg_partition(batches):
        counts: dict[str, int] = {}
        for pdf in batches:
            vc = pdf["tok"].value_counts()
            for tok, c in vc.items():
                counts[tok] = counts.get(tok, 0) + int(c)
            if len(counts) > _CAP:
                # batched MG decrement: subtract the (cap+1)-th largest
                # count from everyone, drop the non-positive remainder
                cut = sorted(counts.values(), reverse=True)[_CAP]
                counts = {t: c - cut for t, c in counts.items() if c > cut}
        if counts:
            yield pd.DataFrame({"tok": list(counts.keys())})

    candidates = toks.mapInPandas(mg_partition, "tok string").distinct()
    exact = (
        toks.join(F.broadcast(candidates), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n_total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        exact.crossJoin(F.broadcast(n_total))
        .filter(32 * F.col("cnt") > F.col("n_total"))
        .orderBy(F.desc("cnt"), "tok")
    )


@register(
    "sketch_kmv_union",
    category="sketch",
    doc="Mergeable-sketch set algebra: per-flag KMV sketches (k=64) are "
    "UNIONED pairwise by taking the k smallest of the two 64-hash "
    "sketches — the merge touches 128 rows per pair regardless of data "
    "size, which is the entire point of sketches at 100 TB (set "
    "operations on summaries, never re-scans).  Union NDV from the "
    "merged kth-min; intersection via inclusion-exclusion, clamped at "
    "0.  Exact union NDV joined alongside for error visibility (the "
    "one full-data pass, same cost class as sketch_kmv_distinct).",
    oracle=f"""
        WITH h AS (
            SELECT DISTINCT l_returnflag AS flag,
                   CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
                        AS BIGINT) AS hv
            FROM lineitem
        ),
        sk AS (
            SELECT flag, hv FROM (
                SELECT flag, hv,
                       ROW_NUMBER() OVER (PARTITION BY flag ORDER BY hv) AS rn
                FROM h) WHERE rn <= {_K}
        ),
        est1 AS (
            SELECT flag, {_K - 1}.0 * {2**60} / MAX(hv) AS est
            FROM sk GROUP BY flag
        ),
        pairs AS (
            SELECT a.flag AS flag_a, b.flag AS flag_b
            FROM (SELECT DISTINCT flag FROM sk) a
            JOIN (SELECT DISTINCT flag FROM sk) b ON a.flag < b.flag
        ),
        uh AS (
            -- set union of the two sketches: a hash present in BOTH
            -- sketches (same key under both flags) must count once
            SELECT DISTINCT p.flag_a, p.flag_b, s.hv
            FROM pairs p
            JOIN sk s ON s.flag = p.flag_a OR s.flag = p.flag_b
        ),
        merged AS (
            SELECT flag_a, flag_b, hv,
                   ROW_NUMBER() OVER (PARTITION BY flag_a, flag_b
                                      ORDER BY hv) AS rn
            FROM uh
        ),
        kth AS (
            SELECT flag_a, flag_b, MAX(CASE WHEN rn = {_K} THEN hv END) AS kth_union
            FROM merged GROUP BY flag_a, flag_b
        ),
        exact AS (
            SELECT p.flag_a, p.flag_b, COUNT(DISTINCT h.hv) AS n_exact_union
            FROM pairs p JOIN h ON h.flag IN (p.flag_a, p.flag_b)
            GROUP BY p.flag_a, p.flag_b
        )
        SELECT k.flag_a, k.flag_b, k.kth_union,
               CAST(ea.est AS DOUBLE)                           AS est_a,
               CAST(eb.est AS DOUBLE)                           AS est_b,
               CAST({_K - 1}.0 * {2**60} / k.kth_union AS DOUBLE) AS est_union,
               CAST(GREATEST(0.0, ea.est + eb.est
                    - {_K - 1}.0 * {2**60} / k.kth_union) AS DOUBLE)
                                                                AS est_intersect,
               x.n_exact_union
        FROM kth k
        JOIN est1 ea ON ea.flag = k.flag_a
        JOIN est1 eb ON eb.flag = k.flag_b
        JOIN exact x ON x.flag_a = k.flag_a AND x.flag_b = k.flag_b
        ORDER BY k.flag_a, k.flag_b
    """,
)
def sketch_kmv_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    h = li.select(
        F.col("l_returnflag").alias("flag"),
        F.conv(
            F.substring(F.md5(F.col("l_partkey").cast("string").cast("binary")), 1, 15),
            16,
            10,
        )
        .cast("bigint")
        .alias("hv"),
    ).distinct()
    w = W.partitionBy("flag").orderBy("hv")
    sk = (
        h.select("flag", "hv", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _K)
        .select("flag", "hv")
    )
    est1 = sk.groupBy("flag").agg(
        (F.lit((_K - 1) * _M) / F.max("hv")).alias("est")
    )
    flags = sk.select("flag").distinct()
    pairs = (
        flags.alias("a")
        .join(flags.alias("b"), F.col("a.flag") < F.col("b.flag"))
        .select(F.col("a.flag").alias("flag_a"), F.col("b.flag").alias("flag_b"))
    )
    # sketch merge: 64-row sketches joined per pair — broadcast, no shuffle
    # of anything data-sized
    merged = (
        F.broadcast(pairs)
        .join(
            sk.alias("s"),
            (F.col("s.flag") == F.col("flag_a")) | (F.col("s.flag") == F.col("flag_b")),
        )
        .select("flag_a", "flag_b", "hv")
        .distinct()
    )
    w2 = W.partitionBy("flag_a", "flag_b").orderBy("hv")
    kth = (
        merged.select("flag_a", "flag_b", "hv", F.row_number().over(w2).alias("rn"))
        .groupBy("flag_a", "flag_b")
        .agg(F.max(F.when(F.col("rn") == _K, F.col("hv"))).alias("kth_union"))
    )
    exact = (
        F.broadcast(pairs)
        .join(h, (F.col("flag") == F.col("flag_a")) | (F.col("flag") == F.col("flag_b")))
        .select("flag_a", "flag_b", "hv")
        .distinct()
        .groupBy("flag_a", "flag_b")
        .agg(F.count("*").alias("n_exact_union"))
    )
    est_union = F.lit((_K - 1) * _M) / F.col("kth_union")
    return (
        kth.join(est1.select(F.col("flag").alias("flag_a"), F.col("est").alias("est_a")), "flag_a")
        .join(est1.select(F.col("flag").alias("flag_b"), F.col("est").alias("est_b")), "flag_b")
        .join(exact, ["flag_a", "flag_b"])
        .select(
            "flag_a",
            "flag_b",
            "kth_union",
            F.col("est_a").cast("double").alias("est_a"),
            F.col("est_b").cast("double").alias("est_b"),
            est_union.cast("double").alias("est_union"),
            F.greatest(F.lit(0.0), F.col("est_a") + F.col("est_b") - est_union)
            .cast("double")
            .alias("est_intersect"),
            "n_exact_union",
        )
        .orderBy("flag_a", "flag_b")
    )


_HLL_M = 64  # registers (p=6); alpha_64 = 0.709
#: alpha_m * m^2 scaled by 1000 to stay integral: 0.709 * 64 * 64 * 1000
_HLL_ALPHA_M2_MILLI = 2904064
_HLL_SCALE = 1 << 62  # per-register terms are 2^(62 - M_j), max 2^62 < 2^63


@register(
    "sketch_hll_replay",
    category="sketch",
    doc="HyperLogLog (Flajolet et al. 2007) built FROM SCRATCH in exact "
    "integer space so the whole sketch — every register and the final "
    "estimate — is oracle-replayed bit-for-bit (unlike "
    "sketch_hll_native, whose DataSketches binary is implementation-"
    "defined and rows-only).  Per key: 60-bit portable hash, register "
    "j = h % 64, rho = leading-zero rank of the remaining 54 bits "
    "(55 - bitlength, the floor-log2 trick — libm-free).  Registers "
    "max-combine map-side (MAX is the HLL merge operator, which is why "
    "the sketch works at 100 TB: the shuffle carries <=64 rows per "
    "group, never the keys).  The harmonic mean is computed exactly: "
    "each register contributes the INTEGER 2^(62 - M_j), the sum fits "
    "decimal(38,0) (<= 64 * 2^62), and the estimate is one exact "
    "integer floor-division — no float summation anywhere.  Exact NDV "
    "and empty-register count ride along for error visibility.",
    oracle=f"""
        WITH h AS (
            SELECT l_returnflag AS flag,
                   CAST(('0x' || substr(md5(concat('hll',
                        CAST(l_partkey AS VARCHAR))), 1, 15)) AS BIGINT) AS hv
            FROM lineitem
        ),
        rho AS (
            SELECT flag, hv % {_HLL_M} AS reg,
                   CASE WHEN hv // {_HLL_M} = 0 THEN 55
                        ELSE 55 - length(bin(hv // {_HLL_M})) END AS rho
            FROM h
        ),
        mj AS (SELECT flag, reg, MAX(rho) AS mj FROM rho GROUP BY flag, reg),
        grid AS (
            SELECT f.flag, g.range AS reg
            FROM (SELECT DISTINCT flag FROM h) f, range({_HLL_M}) g
        ),
        regs AS (
            SELECT grid.flag, grid.reg, COALESCE(mj.mj, 0) AS mj
            FROM grid LEFT JOIN mj ON mj.flag = grid.flag AND mj.reg = grid.reg
        ),
        agg AS (
            SELECT flag,
                   SUM(CAST(1::BIGINT << (62 - mj) AS HUGEINT)) AS s,
                   SUM(mj) AS sum_rho,
                   SUM(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS n_zero_regs
            FROM regs GROUP BY flag
        ),
        exact AS (
            SELECT flag, COUNT(DISTINCT hv) AS n_exact FROM h GROUP BY flag
        )
        SELECT a.flag,
               CAST(a.sum_rho AS BIGINT) AS sum_rho,
               CAST(a.n_zero_regs AS BIGINT) AS n_zero_regs,
               CAST(({_HLL_ALPHA_M2_MILLI}::HUGEINT * {_HLL_SCALE}::HUGEINT)
                    // (1000::HUGEINT * a.s) AS BIGINT) AS hll_ndv,
               x.n_exact
        FROM agg a JOIN exact x ON x.flag = a.flag
        ORDER BY a.flag
    """,
)
def sketch_hll_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.functions.hashing import portable_hash64

    li = load_table(spark, sf_dir, "lineitem")
    h = li.select(
        F.col("l_returnflag").alias("flag"),
        portable_hash64(F.col("l_partkey").cast("string"), salt="hll").alias("hv"),
    )
    w = F.expr(f"hv div {_HLL_M}")  # hv >= 0, so div == floor division
    rho = F.when(w == 0, F.lit(55)).otherwise(F.lit(55) - F.length(F.bin(w)))
    per_reg = (
        h.select("flag", F.pmod(F.col("hv"), F.lit(_HLL_M)).alias("reg"), rho.alias("rho"))
        .groupBy("flag", "reg")
        .agg(F.max("rho").alias("mj"))
    )
    # dense 64-register grid per group: empty registers count as M_j = 0
    grid = (
        h.select("flag")
        .distinct()
        .crossJoin(F.broadcast(spark.range(_HLL_M).select(F.col("id").alias("reg"))))
    )
    regs = grid.join(per_reg, ["flag", "reg"], "left").select(
        "flag", "reg", F.coalesce("mj", F.lit(0)).alias("mj")
    )
    agg = regs.groupBy("flag").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(62 - mj AS INT))").cast("decimal(38,0)")).alias("s"),
        F.sum("mj").cast("bigint").alias("sum_rho"),
        F.sum(F.when(F.col("mj") == 0, 1).otherwise(0)).cast("bigint").alias("n_zero_regs"),
    )
    exact = h.distinct().groupBy("flag").agg(F.count(F.lit(1)).alias("n_exact"))
    est = F.expr(
        f"CAST((CAST({_HLL_ALPHA_M2_MILLI} AS DECIMAL(38,0)) * CAST({_HLL_SCALE} AS DECIMAL(38,0)))"
        f" div (CAST(1000 AS DECIMAL(38,0)) * s) AS BIGINT)"
    )
    return (
        agg.join(exact, "flag")
        .select("flag", "sum_rho", "n_zero_regs", est.alias("hll_ndv"), "n_exact")
        .orderBy("flag")
    )


_BLOOM_BITS = 8192  # filter width in bits
_BLOOM_K = 3  # hash functions


def _bloom_bit_sql(expr: str, d: int) -> str:
    h = portable_hash_expr(expr, salt=f"bloom{d}")
    return f"(({h}) % {_BLOOM_BITS} + {_BLOOM_BITS}) % {_BLOOM_BITS}"


@register(
    "sketch_bloom_membership",
    category="sketch",
    doc="Explicit Bloom filter (k=3, m=8192 bits) with every bit "
    "position oracle-replayed: BUILD inserts each BUILDING-segment "
    "customer key at 3 portable-hash bit positions (the set-bit table "
    "is the filter — at most 8192 rows regardless of build size, i.e. "
    "a broadcastable summary, exactly why bloom filters work as join "
    "pre-filters at 100 TB); PROBE fans each distinct order customer "
    "out to its 3 positions and declares 'maybe present' iff all 3 "
    "bits are set (one-sided error: no false negatives, checked "
    "exactly).  Output: per-segment probe accounting — true members, "
    "bloom positives, false positives, FP ppm — all exact integers.  "
    "Spark's native bloom_filter_agg/might_contain is the same shape "
    "with an opaque binary; this form trades 3 narrow joins for full "
    "cross-engine checkability.",
    oracle=f"""
        WITH build AS (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        ),
        bits AS (
            SELECT DISTINCT
                   CASE d.d WHEN 0 THEN {_bloom_bit_sql('CAST(c_custkey AS VARCHAR)', 0)}
                            WHEN 1 THEN {_bloom_bit_sql('CAST(c_custkey AS VARCHAR)', 1)}
                            ELSE {_bloom_bit_sql('CAST(c_custkey AS VARCHAR)', 2)} END AS bit
            FROM build, (VALUES (0), (1), (2)) d(d)
        ),
        probe AS (
            SELECT c.c_custkey AS k, c.c_mktsegment AS seg,
                   CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_member
            FROM (SELECT DISTINCT o_custkey FROM orders) o
            JOIN customer c ON c.c_custkey = o.o_custkey
        ),
        probe_bits AS (
            SELECT p.k, p.seg, p.is_member,
                   CASE d.d WHEN 0 THEN {_bloom_bit_sql('CAST(p.k AS VARCHAR)', 0)}
                            WHEN 1 THEN {_bloom_bit_sql('CAST(p.k AS VARCHAR)', 1)}
                            ELSE {_bloom_bit_sql('CAST(p.k AS VARCHAR)', 2)} END AS bit
            FROM probe p, (VALUES (0), (1), (2)) d(d)
        ),
        verdicts AS (
            SELECT pb.k, pb.seg, pb.is_member,
                   CASE WHEN COUNT(b.bit) = {_BLOOM_K} THEN 1 ELSE 0 END AS bloom_pos
            FROM probe_bits pb LEFT JOIN bits b ON b.bit = pb.bit
            GROUP BY pb.k, pb.seg, pb.is_member
        )
        SELECT seg,
               CAST(COUNT(*) AS BIGINT) AS n_probes,
               CAST(SUM(is_member) AS BIGINT) AS n_members,
               CAST(SUM(bloom_pos) AS BIGINT) AS n_bloom_pos,
               CAST(SUM(CASE WHEN bloom_pos = 1 AND is_member = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
               CAST(SUM(CASE WHEN bloom_pos = 0 AND is_member = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
               CAST((1000000 * SUM(CASE WHEN bloom_pos = 1 AND is_member = 0
                                        THEN 1 ELSE 0 END)) // COUNT(*)
                    AS BIGINT) AS fp_ppm
        FROM verdicts
        GROUP BY seg
        ORDER BY seg
    """,
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.functions.hashing import portable_hash64

    def bit(col: F.Column, d: int) -> F.Column:
        return F.pmod(
            portable_hash64(col.cast("string"), salt=f"bloom{d}"), F.lit(_BLOOM_BITS)
        )

    cust = load_table(spark, sf_dir, "customer")
    build = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bits = (
        build.select(
            F.explode(
                F.array(*[bit(F.col("c_custkey"), d) for d in range(_BLOOM_K)])
            ).alias("bit")
        )
        .distinct()
    )
    probe = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_custkey").alias("k"),
            F.col("c_mktsegment").alias("seg"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("is_member"),
        )
    )
    probe_bits = probe.select(
        "k",
        "seg",
        "is_member",
        F.explode(F.array(*[bit(F.col("k"), d) for d in range(_BLOOM_K)])).alias("bit"),
    )
    # the filter is <= 8192 rows no matter how large the build side: broadcast
    verdicts = (
        probe_bits.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "bit", "left")
        .groupBy("k", "seg", "is_member")
        .agg(
            F.when(F.count("hit") == _BLOOM_K, 1).otherwise(0).alias("bloom_pos")
        )
    )
    fp = F.sum(F.when((F.col("bloom_pos") == 1) & (F.col("is_member") == 0), 1).otherwise(0))
    return (
        verdicts.groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.sum("is_member").cast("bigint").alias("n_members"),
            F.sum("bloom_pos").cast("bigint").alias("n_bloom_pos"),
            fp.cast("bigint").alias("n_false_pos"),
            F.sum(
                F.when((F.col("bloom_pos") == 0) & (F.col("is_member") == 1), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_false_neg"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN bloom_pos = 1 AND is_member = 0 "
                "THEN 1 ELSE 0 END)) div COUNT(*) AS BIGINT)"
            ).alias("fp_ppm"),
        )
        .orderBy("seg")
    )


_CMS_D = 4  # depth: independent hash rows
_CMS_W = 64  # width: buckets per row


def _cms_bucket_sql(depth: int) -> str:
    h = portable_hash_expr("CAST(user_id AS VARCHAR)", salt=f"cms{depth}")
    return f"(({h}) % {_CMS_W} + {_CMS_W}) % {_CMS_W}"


@register(
    "sketch_countmin",
    category="sketch",
    doc="Count-Min sketch (Cormode & Muthukrishnan 2005) built as a pure "
    "aggregation: each event fans out to depth=4 (row, bucket) cells "
    "on independent portable hashes, one groupBy counts the 4x64 cell "
    "matrix (mergeable map-side — the sketch IS a partial aggregate, "
    "which is why it works at 100 TB where exact per-key counts "
    "shuffle every key), and point queries take the MIN over the 4 "
    "cells a key hashes to (overestimates only, never under).  The "
    "probe set's exact counts ride along so the driver checks both the "
    "sketch cells and the one-sided error invariant.  Every count and "
    "hash is exact integer — bit-identical in the DuckDB replay.",
    oracle=f"""
        WITH cells AS (
            SELECT d.depth, buckets.b AS bucket, COUNT(*) AS c
            FROM events, (VALUES (0), (1), (2), (3)) d(depth),
                 LATERAL (SELECT CASE d.depth
                     WHEN 0 THEN {_cms_bucket_sql(0)}
                     WHEN 1 THEN {_cms_bucket_sql(1)}
                     WHEN 2 THEN {_cms_bucket_sql(2)}
                     ELSE {_cms_bucket_sql(3)} END AS b) buckets
            GROUP BY d.depth, buckets.b
        ),
        probes AS (
            SELECT user_id, COUNT(*) AS exact_n FROM events
            WHERE user_id % 20 = 0 GROUP BY user_id
        ),
        probe_cells AS (
            SELECT p.user_id, p.exact_n, d.depth,
                   CASE d.depth
                     WHEN 0 THEN {_cms_bucket_sql(0)}
                     WHEN 1 THEN {_cms_bucket_sql(1)}
                     WHEN 2 THEN {_cms_bucket_sql(2)}
                     ELSE {_cms_bucket_sql(3)} END AS bucket
            FROM probes p, (VALUES (0), (1), (2), (3)) d(depth)
        )
        SELECT pc.user_id,
               CAST(ANY_VALUE(pc.exact_n) AS BIGINT) AS exact_n,
               CAST(MIN(c.c) AS BIGINT) AS cms_est
        FROM probe_cells pc
        JOIN cells c ON c.depth = pc.depth AND c.bucket = pc.bucket
        GROUP BY pc.user_id
        ORDER BY pc.user_id
    """,
)
def sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.functions.hashing import portable_hash64

    ev = load_table(spark, sf_dir, "events").select("user_id")

    def bucket(depth: int) -> F.Column:
        return F.pmod(
            portable_hash64(F.col("user_id").cast("string"), salt=f"cms{depth}"),
            F.lit(_CMS_W),
        )

    fanout = ev.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"), bucket(d).alias("bucket")
                    )
                    for d in range(_CMS_D)
                ]
            )
        ).alias("cell"),
    ).select("user_id", "cell.depth", "cell.bucket")
    cells = fanout.groupBy("depth", "bucket").agg(F.count(F.lit(1)).alias("c"))
    probes = (
        ev.filter(F.col("user_id") % 20 == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    probe_cells = probes.select(
        "user_id",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"), bucket(d).alias("bucket")
                    )
                    for d in range(_CMS_D)
                ]
            )
        ).alias("cell"),
    ).select("user_id", "exact_n", "cell.depth", "cell.bucket")
    return (
        probe_cells.join(F.broadcast(cells), ["depth", "bucket"])
        .groupBy("user_id")
        .agg(
            F.any_value("exact_n").cast("bigint").alias("exact_n"),
            F.min("c").cast("bigint").alias("cms_est"),
        )
        .orderBy("user_id")
    )


@register(
    "sketch_hdr_quantiles",
    category="sketch",
    doc="HDR-histogram quantiles: every order-total (cents) maps to a "
    "(log2-exponent, 4 mantissa bits) bucket — pure integer bit "
    "arithmetic (exponent = LENGTH(bin(c)) - 1, mantissa via div by "
    "2^(e-4)), guaranteeing <= 2^-4 relative error (each octave has "
    "16 sub-buckets, so a bucket spans 1/16 of its lower bound) with "
    "at most "
    "16*64 buckets REGARDLESS of data volume.  The sketch is one "
    "map-side-combinable groupBy; quantile lookup walks the <=1024-row "
    "cumulative histogram.  Mergeable (bucket counts add), bounded "
    "memory, no libm — the scale answer when t-digest-style sketches "
    "can't be made bit-deterministic.  Output per quantile: the HDR "
    "estimate (bucket upper bound), the EXACT quantile (oracle-grade "
    "two-sided check), and the realized error in ppm — asserting the "
    "<= 62500 ppm (2^-4) bound the bucket width promises.",
    oracle="""
        WITH c AS (
            SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS cents
            FROM orders
        ),
        b AS (
            SELECT cents,
                   LENGTH(bin(cents)) - 1 AS e
            FROM c
        ),
        keyed AS (
            SELECT cents, e,
                   CASE WHEN e >= 4
                        THEN cents // CAST(POW(2, e - 4) AS BIGINT) - 16
                        ELSE cents - CAST(POW(2, e) AS BIGINT) END AS m,
                   CASE WHEN e >= 4 THEN CAST(POW(2, e - 4) AS BIGINT)
                        ELSE 1 END AS scale,
                   CASE WHEN e >= 4 THEN 16
                        ELSE CAST(POW(2, e) AS BIGINT) END AS base
            FROM b
        ),
        buckets AS (
            SELECT e * 16 + m AS key,
                   MAX((base + m + 1) * scale - 1) AS hi,
                   COUNT(*) AS cnt
            FROM keyed GROUP BY 1
        ),
        cum AS (
            SELECT key, hi, cnt,
                   SUM(cnt) OVER (ORDER BY key) AS c_cum
            FROM buckets
        ),
        n AS (SELECT COUNT(*) AS n FROM c),
        qs AS (
            SELECT q, (q * n.n + 99) // 100 AS k
            FROM (VALUES (50), (95), (99)) v(q), n
        ),
        est AS (
            SELECT q, k, MIN(key) AS key
            FROM qs JOIN cum ON c_cum >= k
            GROUP BY q, k
        ),
        ranked AS (
            SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn FROM c
        )
        SELECT est.q,
               CAST(est.k AS BIGINT) AS k,
               CAST(cum.hi AS BIGINT) AS est_cents,
               CAST(r.cents AS BIGINT) AS true_cents,
               CAST(ABS(cum.hi - r.cents) * 1000000 // r.cents AS BIGINT)
                   AS err_ppm
        FROM est
        JOIN cum ON cum.key = est.key
        JOIN ranked r ON r.rn = est.k
        ORDER BY est.q
    """,
)
def sketch_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.queries.util import cents

    vals = load_table(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("c")
    )
    keyed = vals.select(
        "c", (F.length(F.bin("c")) - 1).cast("bigint").alias("e")
    ).select(
        "c",
        "e",
        F.expr(
            "CASE WHEN e >= 4 THEN c div CAST(pow(2, e - 4) AS BIGINT) - 16 "
            "ELSE c - CAST(pow(2, e) AS BIGINT) END"
        ).alias("m"),
        F.expr(
            "CASE WHEN e >= 4 THEN CAST(pow(2, e - 4) AS BIGINT) "
            "ELSE CAST(1 AS BIGINT) END"
        ).alias("scale"),
        F.expr(
            "CASE WHEN e >= 4 THEN CAST(16 AS BIGINT) "
            "ELSE CAST(pow(2, e) AS BIGINT) END"
        ).alias("base"),
    )
    buckets = (
        keyed.groupBy((F.col("e") * 16 + F.col("m")).alias("key"))
        .agg(
            F.max((F.col("base") + F.col("m") + 1) * F.col("scale") - 1).alias("hi"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    cum = buckets.withColumn(
        "c_cum", F.sum("cnt").over(W.orderBy("key").rowsBetween(W.unboundedPreceding, 0))
    )
    n = vals.agg(F.count(F.lit(1)).alias("n"))
    qs = (
        spark.createDataFrame([(50,), (95,), (99,)], "q int")
        .crossJoin(F.broadcast(n))
        .select("q", F.expr("(q * n + 99) div 100").alias("k"))
    )
    est = (
        F.broadcast(qs)
        .join(cum, F.col("c_cum") >= F.col("k"))
        .groupBy("q", "k")
        .agg(F.min("key").alias("key"))
    )
    # exact quantile: per-distinct-value cumulative count (bounded by the
    # distinct-value count, same shape as scale_two_pass_quantile pass 2)
    per_val = vals.groupBy("c").agg(F.count(F.lit(1)).alias("vc"))
    vcum = per_val.withColumn(
        "vcum", F.sum("vc").over(W.orderBy("c").rowsBetween(W.unboundedPreceding, 0))
    )
    truth = (
        F.broadcast(qs)
        .join(vcum, F.col("vcum") >= F.col("k"))
        .groupBy(F.col("q").alias("tq"), F.col("k").alias("tk"))
        .agg(F.min("c").alias("true_cents"))
    )
    return (
        est.join(cum.select("key", "hi"), "key")
        .join(truth, (F.col("q") == F.col("tq")) & (F.col("k") == F.col("tk")))
        .select(
            "q",
            F.col("k").cast("bigint").alias("k"),
            F.col("hi").cast("bigint").alias("est_cents"),
            F.col("true_cents").cast("bigint").alias("true_cents"),
            F.expr("abs(hi - true_cents) * 1000000 div true_cents")
            .cast("bigint")
            .alias("err_ppm"),
        )
        .orderBy("q")
    )


@register(
    "sketch_hll_intersection",
    category="sketch",
    doc="HLL set algebra by inclusion-exclusion: the partkey sets of "
    "return flags A and R each build a 64-register exact-integer HLL "
    "(same machinery as sketch_hll_replay), the UNION sketch is the "
    "register-wise MAX — the property that makes HLL mergeable and "
    "therefore distributable — and |A inter R| is estimated as "
    "est(A) + est(R) - est(A u R).  This is how overlap/audience "
    "intersection is answered at 100 TB without ever shuffling keys: "
    "three 64-row summaries and integer arithmetic.  The exact "
    "intersection rides along (one distinct semi-join, viable at test "
    "SF) with the signed estimation error in ppm — inclusion-exclusion "
    "error visibility, since HLL intersection inherits THREE sketch "
    "errors and can even go negative on small overlaps.",
    oracle=f"""
        WITH h AS (
            SELECT l_returnflag AS flag,
                   CAST(('0x' || substr(md5(concat('hll',
                        CAST(l_partkey AS VARCHAR))), 1, 15)) AS BIGINT) AS hv
            FROM lineitem WHERE l_returnflag IN ('A', 'R')
        ),
        rho AS (
            SELECT flag, hv % {_HLL_M} AS reg,
                   CASE WHEN hv // {_HLL_M} = 0 THEN 55
                        ELSE 55 - length(bin(hv // {_HLL_M})) END AS rho
            FROM h
        ),
        mj AS (SELECT flag, reg, MAX(rho) AS mj FROM rho GROUP BY flag, reg),
        grid AS (
            SELECT f.flag, g.range AS reg
            FROM (SELECT 'A' AS flag UNION ALL SELECT 'R'
                  UNION ALL SELECT '_union') f, range({_HLL_M}) g
        ),
        -- union sketch: register-wise MAX across the two flags
        mju AS (
            SELECT '_union' AS flag, reg, MAX(mj) AS mj FROM mj GROUP BY reg
        ),
        allm AS (SELECT * FROM mj UNION ALL SELECT * FROM mju),
        regs AS (
            SELECT grid.flag, grid.reg, COALESCE(a.mj, 0) AS mj
            FROM grid LEFT JOIN allm a
              ON a.flag = grid.flag AND a.reg = grid.reg
        ),
        est AS (
            SELECT flag,
                   CAST(({_HLL_ALPHA_M2_MILLI}::HUGEINT * {_HLL_SCALE}::HUGEINT)
                        // (1000::HUGEINT *
                            SUM(CAST(1::BIGINT << (62 - mj) AS HUGEINT)))
                        AS BIGINT) AS ndv
            FROM regs GROUP BY flag
        ),
        ex AS (
            SELECT COUNT(*) AS n_exact FROM (
                SELECT hv FROM h WHERE flag = 'A'
                INTERSECT
                SELECT hv FROM h WHERE flag = 'R'
            )
        )
        SELECT a.ndv AS ndv_a, r.ndv AS ndv_r, u.ndv AS ndv_union,
               CAST(a.ndv + r.ndv - u.ndv AS BIGINT) AS ndv_intersect_est,
               CAST(ex.n_exact AS BIGINT) AS n_exact_intersect,
               CAST((a.ndv + r.ndv - u.ndv - ex.n_exact) * 1000000
                    // GREATEST(ex.n_exact, 1) AS BIGINT) AS err_ppm
        FROM est a, est r, est u, ex
        WHERE a.flag = 'A' AND r.flag = 'R' AND u.flag = '_union'
    """,
)
def sketch_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.functions.hashing import portable_hash64

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
    )
    h = li.select(
        F.col("l_returnflag").alias("flag"),
        portable_hash64(F.col("l_partkey").cast("string"), salt="hll").alias("hv"),
    )
    w = F.expr(f"hv div {_HLL_M}")
    rho = F.when(w == 0, F.lit(55)).otherwise(F.lit(55) - F.length(F.bin(w)))
    mj = (
        h.select("flag", F.pmod("hv", F.lit(_HLL_M)).alias("reg"), rho.alias("rho"))
        .groupBy("flag", "reg")
        .agg(F.max("rho").alias("mj"))
    )
    mju = mj.groupBy("reg").agg(F.max("mj").alias("mj")).select(
        F.lit("_union").alias("flag"), "reg", "mj"
    )
    allm = mj.unionByName(mju)
    grid = (
        spark.createDataFrame([("A",), ("R",), ("_union",)], "flag string")
        .crossJoin(F.broadcast(spark.range(_HLL_M).select(F.col("id").alias("reg"))))
    )
    regs = grid.join(allm, ["flag", "reg"], "left").select(
        "flag", "reg", F.coalesce("mj", F.lit(0)).alias("mj")
    )
    est = regs.groupBy("flag").agg(
        F.expr(
            f"CAST((CAST({_HLL_ALPHA_M2_MILLI} AS DECIMAL(38,0))"
            f" * CAST({_HLL_SCALE} AS DECIMAL(38,0)))"
            f" div (CAST(1000 AS DECIMAL(38,0)) * SUM(CAST("
            "shiftleft(CAST(1 AS BIGINT), CAST(62 - mj AS INT))"
            " AS DECIMAL(38,0)))) AS BIGINT)"
        ).alias("ndv")
    )
    a_set = h.filter(F.col("flag") == "A").select("hv").distinct()
    r_set = h.filter(F.col("flag") == "R").select("hv").distinct()
    ex = a_set.join(r_set, "hv", "left_semi").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    wide = (
        est.groupBy()
        .pivot("flag", ["A", "R", "_union"])
        .agg(F.first("ndv"))
        .withColumnsRenamed({"A": "ndv_a", "R": "ndv_r", "_union": "ndv_union"})
    )
    return wide.crossJoin(F.broadcast(ex)).select(
        F.col("ndv_a").cast("bigint"),
        F.col("ndv_r").cast("bigint"),
        F.col("ndv_union").cast("bigint"),
        (F.col("ndv_a") + F.col("ndv_r") - F.col("ndv_union"))
        .cast("bigint")
        .alias("ndv_intersect_est"),
        F.col("n_exact").cast("bigint").alias("n_exact_intersect"),
        F.expr(
            "CAST((ndv_a + ndv_r - ndv_union - n_exact) * 1000000"
            " div GREATEST(n_exact, 1) AS BIGINT)"
        ).alias("err_ppm"),
    )


@register(
    "sketch_theta_set_algebra",
    category="sketch",
    doc="Spark 4.1 native DataSketches THETA sketches with full set "
    "algebra: per-priority customer-key sketches (theta_sketch_agg), "
    "then union / intersection / A-not-B across two priorities computed "
    "ON THE SKETCHES (theta_union / theta_intersection / "
    "theta_difference) — the mergeable-summary algebra that answers "
    "'how many users did A but not B' at 100 TB without ever shuffling "
    "raw keys twice.  The key space is folded to o_custkey % 2048, "
    "below the sketch's k=4096 retention threshold, so every sketch "
    "stays in EXACT mode and each estimate is value-checked against the "
    "true distinct count (the same below-k-exactness contract real "
    "DataSketches deployments lean on for small sets); above k the same "
    "plan degrades gracefully to ~2% RSE estimates.",
    oracle="""
        WITH o AS (
            SELECT o_orderpriority AS pri, o_custkey % 2048 AS k FROM orders
        )
        SELECT 'set:' || pri AS measure,
               CAST(COUNT(DISTINCT k) AS BIGINT) AS est
        FROM o GROUP BY pri
        UNION ALL
        SELECT 'union:urgent|high',
               CAST(COUNT(DISTINCT k) AS BIGINT)
        FROM o WHERE pri IN ('1-URGENT', '2-HIGH')
        UNION ALL
        SELECT 'intersect:urgent&high', CAST(COUNT(*) AS BIGINT) FROM (
            SELECT k FROM o WHERE pri = '1-URGENT'
            INTERSECT
            SELECT k FROM o WHERE pri = '2-HIGH')
        UNION ALL
        SELECT 'diff:urgent-high', CAST(COUNT(*) AS BIGINT) FROM (
            SELECT k FROM o WHERE pri = '1-URGENT'
            EXCEPT
            SELECT k FROM o WHERE pri = '2-HIGH')
        ORDER BY measure
    """,
)
def sketch_theta_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        (F.col("o_custkey") % 2048).cast("long").alias("k"),
    )
    sk = o.groupBy("pri").agg(F.theta_sketch_agg("k").alias("s"))
    per_set = sk.select(
        F.concat(F.lit("set:"), F.col("pri")).alias("measure"),
        F.theta_sketch_estimate("s").alias("est"),
    )
    # the two operand sketches as a single row (tiny: 5 sketch rows)
    ab = sk.groupBy().agg(
        F.first(F.when(F.col("pri") == "1-URGENT", F.col("s")), True).alias("a"),
        F.first(F.when(F.col("pri") == "2-HIGH", F.col("s")), True).alias("b"),
    )
    algebra = ab.select(
        F.explode(
            F.create_map(
                F.lit("union:urgent|high"),
                F.theta_sketch_estimate(F.theta_union("a", "b")),
                F.lit("intersect:urgent&high"),
                F.theta_sketch_estimate(F.theta_intersection("a", "b")),
                F.lit("diff:urgent-high"),
                F.theta_sketch_estimate(F.theta_difference("a", "b")),
            )
        ).alias("measure", "est")
    )
    return per_set.unionByName(algebra).orderBy("measure")


@register(
    "sketch_kll_quantiles",
    category="sketch",
    doc="Spark 4.1 native DataSketches KLL quantile sketches: per-type "
    "sketches of event value-cents (kll_sketch_agg_bigint, k=4096), "
    "rank queries (p25/p50/p75) straight off the sketch, and a two-"
    "sketch MERGE (kll_sketch_merge_bigint) proving merged(click,view) "
    "answers quantiles over the combined rows — the mergeable-quantile "
    "path that replaces a full sort at 100 TB.  The input is capped at "
    "an absolute row set (event_id < 3000) so every sketch holds fewer "
    "than k items and stays in EXACT mode: each rank query returns the "
    "true order statistic, which DuckDB's quantile_disc replays "
    "bit-for-bit (verified: identical rank convention).",
    oracle="""
        WITH d AS (
            SELECT event_type AS t, CAST(ROUND(value * 100, 0) AS BIGINT) AS c
            FROM events WHERE event_id < 3000
        )
        SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
               quantile_disc(c, 0.25) AS q25,
               quantile_disc(c, 0.50) AS med,
               quantile_disc(c, 0.75) AS q75
        FROM d GROUP BY t
        UNION ALL
        SELECT 'click+view', CAST(COUNT(*) AS BIGINT),
               quantile_disc(c, 0.25), quantile_disc(c, 0.50),
               quantile_disc(c, 0.75)
        FROM d WHERE t IN ('click', 'view')
        ORDER BY t
    """,
)
def sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    d = ev.select(
        F.col("event_type").alias("t"),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    sk = d.groupBy("t").agg(F.kll_sketch_agg_bigint("c", F.lit(4096)).alias("s"))

    def rank_cols(s):
        return [
            F.kll_sketch_get_n_bigint(s).alias("n"),
            F.kll_sketch_get_quantile_bigint(s, F.lit(0.25)).alias("q25"),
            F.kll_sketch_get_quantile_bigint(s, F.lit(0.5)).alias("med"),
            F.kll_sketch_get_quantile_bigint(s, F.lit(0.75)).alias("q75"),
        ]

    per_type = sk.select("t", *rank_cols(F.col("s")))
    merged = (
        sk.groupBy()
        .agg(
            F.first(F.when(F.col("t") == "click", F.col("s")), True).alias("a"),
            F.first(F.when(F.col("t") == "view", F.col("s")), True).alias("b"),
        )
        .select(
            F.lit("click+view").alias("t"),
            *rank_cols(F.kll_sketch_merge_bigint("a", "b")),
        )
    )
    return per_type.unionByName(merged).orderBy("t")
