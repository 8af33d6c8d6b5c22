"""Deduplication operators over document corpora.

North-star surface (BASELINE.json): exact dedup, MinHash+LSH near-dup,
SimHash, n-gram Jaccard — designed for 100 TB:

- exact: hash-groupBy on a normalized key (one shuffle, map-side combine).
- MinHash+LSH: shingle -> k salted min-hashes -> band keys -> bucket
  self-join.  Candidate generation never compares all pairs: cost is
  O(sum over buckets of bucket^2), the standard LSH bound.  Skewed buckets
  (a viral duplicate cluster) are capped via a bucket-size limit.
- SimHash: per-token hash bit-majority -> 32-bit signature; equal signatures
  (or banded prefixes) are candidates.
- n-gram Jaccard: exact verification join on shared grams — at scale this
  runs AFTER LSH candidate pruning, never standalone.

Hashes are the portable md5 form (functions/hashing.py) so every step is
oracle-checkable; swap to xxhash64 for production throughput.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from flow_spark.functions.hashing import portable_hash64

#: MinHash configuration: 16 permutations in 4 bands of 4 rows -> the LSH
#: S-curve crosses ~ (1/4)^(1/4) ≈ 0.71 Jaccard.
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = 4


def normalize_text(col: Column) -> Column:
    """Canonical text form for exact dedup: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Group docs by normalized text; keeper = min doc_id (deterministic).

    Returns (keeper_id, n_dups) per distinct normalized text with n_dups >= 1.
    One hash-shuffle; Catalyst does partial aggregation map-side.
    """
    norm = normalize_text(F.col(text_col)).alias("norm")
    return (
        docs.select(F.col("doc_id"), norm)
        .groupBy("norm")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_dups"))
        .select("keeper_id", "n_dups")
    )


def word_shingles(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    distinct: bool = True,
    parallelism: int | None = None,
) -> DataFrame:
    """(doc_id, shingle) word n-grams of the normalized text.

    Built with JVM-side higher-order functions — no Python round trip.
    The words array is materialized as its own projection first: inlining
    the split() into every element_at() makes Catalyst re-split the text
    per gram element (O(len^2) — measured 12s -> <1s on sf0.1).

    ``distinct=False`` skips the per-doc set shuffle for consumers that
    are duplicate-insensitive (MinHash MIN aggregation).  The input is
    repartitioned to ``parallelism`` (default: cluster default) because
    document tables often arrive as a few fat parquet files and shingling
    is CPU-bound.  The repartition hashes on ``doc_id`` (not round-robin):
    every downstream consumer re-clusters by doc_id (signature groupBy,
    the distinct set, per-doc set ops), and HashPartitioning(doc_id)
    satisfies those distributions, so the corpus-sized post-explode
    shuffle disappears from their plans (measured: one fewer Exchange and
    ~20% off the full LSH pipeline at sf0.1; at 100 TB it removes the
    single biggest shuffle — the exploded shingle stream).
    """
    spark = docs.sparkSession
    nparts = parallelism or spark.sparkContext.defaultParallelism
    words = F.split(normalize_text(F.col(text_col)), " ")
    base = docs.repartition(nparts, F.col("doc_id")).select("doc_id", words.alias("w"))
    w = F.col("w")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", *[F.element_at(w, (i + j + 1).cast("int")) for j in range(n)]),
    )
    out = base.select("doc_id", F.explode(grams).alias("shingle")).where(
        F.length("shingle") > 0
    )
    return out.distinct() if distinct else out


#: universal-hash family modulus (2^31 - 1, prime): a*h+b stays < 2^62 so
#: the arithmetic never overflows int64 in either engine.
MH_P = 2_147_483_647


def mh_coeffs(i: int) -> tuple[int, int]:
    """Fixed (a, b) for permutation i — any deterministic values in
    [1, P-1] x [0, P-1] work; these are LCG-style constants."""
    a = (1_103_515_245 * (i + 1)) % MH_P
    b = (12_345 + 1_013_904_223 * i) % MH_P
    return (a or 1, b)


def minhash_signatures(
    shingles: DataFrame, n_hashes: int = N_HASHES, portable: bool = True
) -> DataFrame:
    """doc_id -> [min_i(hash_i(shingle))] as n_hashes columns mh0..mhN.

    One base hash per shingle + n_hashes cheap integer mixes
    ((a_i * h + b_i) mod P, the standard universal family) — 16x less
    hashing than salting the base hash per permutation.  Single groupBy
    with n_hashes MIN aggregates (partial mins map-side, so the shuffle
    carries one row per doc per partition).

    ``portable=True`` (default) uses the md5-derived cross-engine hash so
    the DuckDB oracle can replay signatures bit-for-bit; ``portable=False``
    is the PRODUCTION path — xxhash64, JVM-native, no md5 hex round trip —
    for the 100 TB run where the oracle is a test artifact (measured
    speedup in SCALE.md).  Same algorithm, same independence guarantees,
    different base hash.
    """
    if portable:
        # conv() output is a non-negative 60-bit value, so plain % (one
        # modulo) replaces pmod (two modulos + branch) — measured ~15% off
        # the signature stage at sf0.1, identical values.
        base = portable_hash64(F.col("shingle")) % F.lit(MH_P)
    else:
        # xxhash64 spans the full signed range: pmod required here.
        base = F.pmod(F.xxhash64(F.col("shingle")), F.lit(MH_P))
    with_base = shingles.select("doc_id", base.alias("h"))
    aggs = []
    for i in range(n_hashes):
        a, b = mh_coeffs(i)
        # h in [0, P) and a, b >= 0 -> a*h+b is non-negative: % == pmod.
        aggs.append(
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MH_P)).alias(f"mh{i}")
        )
    return with_base.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    max_bucket: int = 1000,
    hot_bucket: str = "drop",
) -> DataFrame:
    """(doc_a < doc_b) candidate pairs sharing at least one LSH band bucket.

    Buckets larger than `max_bucket` (degenerate content, e.g. viral
    boilerplate) would produce a quadratic pair explosion at 100 TB.
    Two policies:

    - ``hot_bucket="drop"``: drop the bucket; its cluster is delegated to
      the exact-dedup pass.  Zero extra cost, loses within-cluster
      near-dup (non-exact) recall.
    - ``hot_bucket="salt"``: split the bucket's sorted id list into
      contiguous sub-buckets of `max_bucket`, generate all pairs WITHIN
      each sub-bucket (same per-bucket quadratic bound as a normal
      bucket), plus link each sub-bucket's first doc to the bucket's
      first doc — so the whole hot bucket stays ONE connected component
      for the clustering pass.  Pair count is O(n * max_bucket) instead
      of O(n^2): linear in the bucket size for a fixed cap.
    """
    if hot_bucket not in ("drop", "salt"):
        raise ValueError(f"hot_bucket must be drop|salt, got {hot_bucket!r}")
    band_keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(b)),
                *[F.col(f"mh{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)],
            )
            for b in range(n_bands)
        ]
    )
    buckets = signatures.select("doc_id", F.explode(band_keys).alias("bucket"))
    # one groupBy replaces the window count AND the self-join: the bucket's
    # sorted id list is materialized once (bounded by max_bucket for cold
    # buckets), the size cap is a free filter on the array, and i<j pairs
    # are generated with JVM higher-order functions — no second pipeline
    # evaluation, no broadcast of a recomputed subtree (measured 30% faster
    # at sf0.1; at 100 TB it also halves this stage's scan/shuffle volume).
    # NOTE at true 100 TB scale a single collect_list row is bounded by
    # max_bucket * salt factor; a bucket so hot that even its id LIST
    # doesn't fit a row (~tens of millions of ids) is exact-dup boilerplate
    # and belongs in the exact pass regardless of policy.
    bucket_ids = buckets.groupBy("bucket").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    if hot_bucket == "drop":
        # direct i<j generation over the whole (capped) id list — no chunk
        # wrapper: the extra nesting measured +48% on dedup_minhash_lsh
        bucket_ids = bucket_ids.filter(
            (F.size("ids") >= 2) & (F.size("ids") <= max_bucket)
        )
        within = F.flatten(
            F.transform(
                "ids",
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size("ids")),
                    lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                ),
            )
        )
    else:
        bucket_ids = bucket_ids.filter(F.size("ids") >= 2)
        # contiguous sub-buckets of max_bucket ids (one chunk when cold)
        chunks = F.transform(
            F.sequence(
                F.lit(0),
                F.floor((F.size("ids") - 1) / max_bucket).cast("int"),
            ),
            lambda ci: F.slice(F.col("ids"), ci * max_bucket + 1, max_bucket),
        )
        within = F.flatten(
            F.transform(
                chunks,
                lambda chunk: F.flatten(
                    F.transform(
                        chunk,
                        lambda x, i: F.transform(
                            F.slice(chunk, i + 2, F.size(chunk)),
                            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                        ),
                    )
                ),
            )
        )
        # rep links: first id of every later chunk pairs with the bucket's
        # first id (ids sorted, so doc_a < doc_b holds)
        rep_links = F.transform(
            F.filter(chunks, lambda _, ci: ci > 0),
            lambda chunk: F.struct(
                F.element_at(F.col("ids"), 1).alias("doc_a"),
                F.element_at(chunk, 1).alias("doc_b"),
            ),
        )
        within = F.concat(within, rep_links)
    pairs = bucket_ids.select(F.explode(within).alias("p"))
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of the near-dup pair graph: (doc_id, component)
    where component = min doc_id in the component (the canonical keeper).

    Iterative min-label propagation (the Pregel pattern on DataFrames):
    each round every vertex takes min(own label, neighbors' labels); rounds
    needed = graph diameter, which for dedup clusters (cliques-ish) is
    O(log n) in practice.  For HIGH-DIAMETER graphs this is the wrong
    tool (a d-hop chain needs d rounds and `max_iter` would silently
    truncate) — use :func:`flow_spark.operators.graph.cc_star`
    (large-star/small-star, O(log^2 n) rounds; measured 8 vs ~120
    rounds in SCALE.md).  Each round is one shuffle; `localCheckpoint`
    truncates the plan so lineage doesn't grow with iterations (without
    it, round k re-executes rounds 1..k-1 — the classic iterative-Spark
    trap).  The driver-side loop is control flow only; all data stays
    distributed.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "comp", F.col("id")
    ).localCheckpoint()
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("comp").alias("nbr_comp")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nbr_comp").alias("min_nbr"))
        )
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.src, "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("min_nbr", "comp")).alias("comp"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), F.col("comp").alias("component"))


def simhash(docs: DataFrame, bits: int = 32, text_col: str = "text") -> DataFrame:
    """32-bit SimHash over word tokens: bit b is set iff the majority of
    token hashes have bit b set.  Returns (doc_id, simhash).

    One explode + one groupBy (bit counts are a fixed-width agg vector).
    """
    spark = docs.sparkSession
    toks = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id", F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok")
        )
        .where(F.length("tok") > 0)
    )
    h = portable_hash64(F.col("tok"), salt="simhash")
    bit_sums = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tok"),
        *[F.sum(F.shiftright(h, b).bitwiseAND(F.lit(1))).alias(f"b{b}") for b in range(bits)],
    )
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") * 2 > F.col("n_tok"), F.lit(2**b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = term if sig is None else (sig + term)
    return bit_sums.select("doc_id", sig.alias("simhash"))


def ngram_jaccard_pairs(
    shingles: DataFrame, threshold: float = 0.5, max_gram_docs: int = 1000
) -> DataFrame:
    """Exact Jaccard over shingle sets for pairs sharing >=1 shingle.

    (doc_a, doc_b, jaccard) for jaccard >= threshold.  Grams appearing in
    more than `max_gram_docs` docs are dropped from pair GENERATION (they
    are near-stopwords and would explode the join) but kept in the size
    denominators — a documented approximation safe for threshold >= 0.5
    only when dropped grams are a small fraction; at scale run after LSH.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    gram_n = shingles.withColumn("gram_n", F.count("*").over(W.partitionBy("shingle")))
    keep = gram_n.filter(F.col("gram_n") <= max_gram_docs).select("doc_id", "shingle")
    a = keep.alias("a")
    b = keep.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def verify_pairs_jaccard(
    pairs: DataFrame, shingles: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact Jaccard verification restricted to CANDIDATE pairs — the
    post-LSH second stage of the canonical near-dup pipeline.

    Unlike ngram_jaccard_pairs (which GENERATES pairs from shared
    shingles and is therefore quadratic within hot grams), this takes an
    existing candidate set, so cost is O(|pairs| x shingles-per-doc):
    two hash joins against the shingle table and one count — linear in
    the candidate list.  This is the form that runs at 100 TB.

    `shingles` must be the DISTINCT (doc_id, shingle) set (word_shingles
    default) so counts are set sizes.  Candidate pairs sharing zero
    shingles verify to jaccard 0 and are dropped by any threshold > 0.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a_sh = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
    b_sh = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        pairs.join(a_sh, "doc_a")
        .join(b_sh, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def ngram_containment_pairs(
    shingles: DataFrame, threshold: float = 0.7, max_gram_docs: int = 1000
) -> DataFrame:
    """Asymmetric containment |A∩B| / min(|A|, |B|) over shingle sets.

    The partial-copy detector Jaccard misses: a paragraph quoted inside a
    much longer document scores near-zero Jaccard (the union is huge) but
    containment ~1.  Same shared-shingle candidate generation and
    hot-gram cap as ngram_jaccard_pairs; at scale this runs on LSH
    candidates, never standalone.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    gram_n = shingles.withColumn("gram_n", F.count("*").over(W.partitionBy("shingle")))
    keep = gram_n.filter(F.col("gram_n") <= max_gram_docs).select("doc_id", "shingle")
    a = keep.alias("a")
    b = keep.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    cont = F.col("n_common") / F.least("sz_a", "sz_b")
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(cont, 4).alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def _rare_first_rank(freq: DataFrame, nparts: int) -> DataFrame:
    """Global 1-based rank of (df asc, tk asc) over a frequency table.

    ``nparts == 1``: one-task window sort — fine while the vocab is
    driver-sized.  ``nparts > 1``: TWO-PHASE range-partitioned rank
    (the distributed form the in-code comment used to only promise):
    range-partition by the sort key (ascending ranges land in ascending
    partition ids by contract), take per-partition row_numbers, then
    add per-partition prefix-sum offsets — identical output to the
    one-task sort, no single task ever sees the whole vocab.  The pid
    assignment is localCheckpoint'd so the offset-count job and the
    rank job read the SAME materialized partitioning (range sampling
    re-run on a retried upstream could otherwise shift a boundary
    between the two jobs).
    """
    from pyspark.sql import Window

    if nparts <= 1:
        return freq.withColumn(
            "tid", F.row_number().over(Window.orderBy("df", "tk"))
        ).localCheckpoint()
    pid = (
        freq.repartitionByRange(nparts, "df", "tk")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {
        r["_pid"]: r["c"]
        for r in pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    off = F.coalesce(
        F.element_at(
            F.create_map(
                *[F.lit(x) for p_o in sorted(offsets.items()) for x in p_o]
            ),
            F.col("_pid"),
        ),
        F.lit(0),  # empty ranges produce no rows; map hit is guaranteed
    )
    w = Window.partitionBy("_pid").orderBy("df", "tk")
    return (
        pid.withColumn("tid", (F.row_number().over(w) + off).cast("int"))
        .drop("_pid")
        # like the nparts<=1 branch: vocab feeds TWO consumers (the
        # df==1 count and the broadcast-join build) — without this the
        # per-range rank sort runs twice (review finding)
        .localCheckpoint()
    )


def prefix_filter_pairs(
    sets: DataFrame,
    t_num: int = 7,
    t_den: int = 10,
    id_col: str = "doc_id",
    item_col: str = "shingle",
    rank_partitions: int | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (SSJoin /
    PPJoin family: Chaudhuri et al. ICDE'06, Xiao et al. WWW'08).

    Input: a (id, item) table of DISTINCT set members (e.g.
    ``word_shingles``).  Each set is sorted by a global rare-item-first
    order (set frequency asc, item asc); for Jaccard threshold
    t = t_num/t_den, a pair with J >= t MUST share at least one item in
    each side's first |set| - ceil(t*|set|) + 1 items, for ANY
    consistent global order.  Candidates are therefore sets sharing a
    PREFIX item (rare by construction, so per-item fan-out is bounded
    by rare-item frequency — the pruning never misses a qualifying
    pair, unlike LSH), plus the length filter
    least(sz)*t_den >= greatest(sz)*t_num (J <= min/max).  Survivors
    are verified with the exact Jaccard on the full sets.

    Unlike MinHash-LSH this is exact (recall 1.0, deterministically) at
    the cost of a frequency pass; at 100 TB the frequency table is
    vocab-sized (zipf — far smaller than the corpus), the prefix index
    shuffles on rare items only, and verification is linear in
    candidates.

    Returns (doc_a, doc_b, jaccard_ppm) for pairs with J >= t, where
    jaccard_ppm = |intersection| * 1_000_000 div |union| (exact integer).
    """
    tok = sets.select(
        F.col(id_col).alias("doc_id"), F.col(item_col).alias("tk")
    ).localCheckpoint()  # consumed by BOTH the vocab build and the
    # per-set aggregation — without this the upstream shingling runs
    # twice (measured ~2.5 s of the sf1 wall); MEMORY_AND_DISK blocks,
    # so at 100 TB this is a disk-backed token spill, not a memory bet
    # vocab-sized dimension build: one global rare-first rank per item.
    # The rank is order-preserving over (df asc, item asc), so the
    # per-set rare-first sort below is a plain ascending-int sort_array
    # and every downstream structure — prefix index, join key, verify
    # arrays — carries ints instead of (df, string) structs (measured
    # at sf1: verify 4.8 s -> ~1.5 s, checkpoint 3.6 s -> ~2 s).  The
    # rank itself is the TWO-PHASE range-partitioned form by default
    # (_rare_first_rank; VERDICT r6 #4): no single task ever holds the
    # whole vocab, so the one remaining scale concentration is gone —
    # rank_partitions=1 recovers the one-task sort, and a property
    # test proves both produce identical pairs.
    if rank_partitions is None:
        rank_partitions = max(
            1, sets.sparkSession.sparkContext.defaultParallelism // 8
        )
    vocab = _rare_first_rank(
        tok.groupBy("tk").agg(F.count(F.lit(1)).alias("df")),
        rank_partitions,
    )  # checkpointed inside; feeds one count + one join
    # a df=1 item exists in exactly one set and can never produce a join
    # partner, so dropping it from the prefix index cannot lose a
    # qualifying pair; under the rare-first dense rank those items
    # occupy exactly the id range [1, n_unique], so the drop is ONE
    # literal comparison (in a mostly-unique shingle space it discards
    # almost the whole index).
    n_unique = vocab.filter(F.col("df") == 1).count()
    # one ordered int array per set; ascending tid == rare-first order.
    # sort_array is deterministic under task retries (collect_list alone
    # is not).  The vocab broadcast outgrows its hint at extreme vocab
    # cardinality: drop the hint and the same plan becomes a shuffle
    # join on tk, corpus dataflow unchanged.
    ordered = (
        tok.join(F.broadcast(vocab.select("tk", "tid")), "tk")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("tid")).alias("arr"))
        .select("doc_id", F.size("arr").alias("sz"), "arr")
        .localCheckpoint()  # feeds the prefix index AND both verify sides
    )
    pref_len = F.expr(f"sz - ((sz * {t_num} + {t_den - 1}) div {t_den}) + 1")
    prefix = (
        ordered.select(
            "doc_id",
            "sz",
            F.posexplode(F.slice("arr", F.lit(1), pref_len)).alias("pos", "tk"),
        )
        .filter(F.col("tk") > F.lit(n_unique))
    )
    # overlap threshold: J >= t  <=>  |intersection| >= t/(1+t)*(sa+sb);
    # PPJoin positional filter: the FIRST shared item (in the global
    # order) sits at positions (pa, pb), and every shared item follows
    # it, so overlap <= min(sa - pa, sb - pb).  Filtering each joined
    # row by that upper bound is safe — for a qualifying pair the
    # first-shared-item row always passes — and prunes most of the
    # candidate fan-out before the expensive verify join (measured at
    # sf1: 1.16M length-filtered rows -> 386k -> 332k distinct pairs).
    cand = (
        prefix.select(
            F.col("doc_id").alias("doc_a"),
            F.col("sz").alias("sa"),
            F.col("pos").alias("pa"),
            "tk",
        )
        .join(
            prefix.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sz").alias("sb"),
                F.col("pos").alias("pb"),
                "tk",
            ),
            "tk",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: J <= min(sz)/max(sz), so J >= t needs this
        .filter(
            F.expr(f"least(sa, sb) * {t_den} >= greatest(sa, sb) * {t_num}")
        )
        # positional filter: o_ub * (t_num + t_den) >= t_num * (sa + sb)
        .filter(
            F.expr(
                f"least(sa - pa, sb - pb) * {t_num + t_den} "
                f">= {t_num} * (sa + sb)"
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verify: exact intersection over the stored int arrays (candidate
    # rows only).  Both verify sides are the per-set arrays (set-count
    # rows, far smaller than the corpus) — broadcast them so the
    # candidate pairs never shuffle with array payloads attached.  At
    # 100 TB the set table outgrows a broadcast: drop the two hints and
    # the same plan becomes a pair-partitioned shuffle join, still
    # linear in candidates.
    return (
        cand.join(
            F.broadcast(
                ordered.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("arr").alias("ta"),
                    F.col("sz").alias("sa"),
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                ordered.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("arr").alias("tb"),
                    F.col("sz").alias("sb"),
                )
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ta", "tb")).alias("n_common"),
            "sa",
            "sb",
        )
        .filter(f"n_common * {t_den} >= {t_num} * (sa + sb - n_common)")
        .select(
            "doc_a",
            "doc_b",
            F.expr("n_common * 1000000 div (sa + sb - n_common)").alias(
                "jaccard_ppm"
            ),
        )
    )
