"""Deduplication operators for large-scale training-data pipelines.

Not part of the Hail reference surface — these are the LLM-data
extensions (SURVEY.md §7.2 M4). All hashing is md5-based (first 15 hex
chars → 60-bit int) so results are engine-independent and reproducible
in any SQL dialect; at 100 TB every operator below is shuffle-bounded
(explode → hash equi-join / groupBy), never O(n²).

Pipeline shapes:
* exact_dedup          — hash-groupBy, keep first id per content hash
* minhash_signatures   — k-perm MinHash entirely via array HOFs
                         (no explode: per-row compute, JVM codegen)
* minhash_lsh_pairs    — band → bucket equi-self-join → candidate pairs
* ngram_jaccard_pairs  — exact Jaccard via shingle posting-list join
* simhash              — 48-bit sign-of-weighted-sum fingerprint
* embedding_dup_pairs  — cosine near-dup; brute (broadcast) or
                         LSH-bucketed (random-hyperplane) at scale
* dedup_clusters / select_cluster_representatives — pairs → connected
  components → keep min-id or highest-quality member per cluster
* dedup_lines          — corpus-level line/paragraph dedup (RefinedWeb)
* minhash_index_write/read + dedup_against_index — persisted band
  index; screen new batches with no corpus rescan (incremental dedup)
* semantic_dedup / kmeans_embeddings — SemDeDup over embeddings
* duplicated_gram_stats — ExactSubstr-style repeated-span statistics
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Auto-plan cutoffs (see ngram_jaccard_pairs / embedding_dup_pairs).
# PPJOIN_DF_CUTOFF: the posting-list self-join costs Σ df² rows; one
# shingle shared by >256 docs already contributes 64k join rows, and a
# Zipfian head makes that the dominant term — switch to PPJoin there.
PPJOIN_DF_CUTOFF = 256
# EMB_EXACT_CUTOFF: largest corpus for which the exact blocked-gemm
# all-pairs plan is the default (≈1.7e10 dot products — minutes of BLAS
# across a cluster); above it the default becomes hyperplane LSH, which
# is subquadratic (approximate: recall (1-θ/π)^bits per pair).
EMB_EXACT_CUTOFF = 1 << 17

# ------------------------------------------------------------------ #
# hashing primitives (md5 → 60-bit int; deterministic, SQL-portable)
# ------------------------------------------------------------------ #
def md5_int(c: Column) -> Column:
    """First 15 hex chars of md5 as a non-negative 60-bit bigint."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


_MH_P = 2147483647  # 2^31 - 1 (Mersenne prime) — universal-hash modulus


def _perm(i: Column, hb: Column) -> Column:
    """i-th universal-hash permutation of a base hash: (a_i·h + b_i) mod p
    with deterministic a_i, b_i derived from i — SQL-portable, and only
    ONE md5 per shingle regardless of k (the textbook MinHash scheme)."""
    a = (i * F.lit(2654435761)) % F.lit(_MH_P - 1) + 1
    b = (i * F.lit(40503) + 17) % F.lit(_MH_P)
    return (a * hb + b) % F.lit(_MH_P)


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the
    source arrived in fewer splits (e.g. one small parquet file) —
    CPU-bound per-row hashing otherwise runs single-threaded. At real
    scale maxPartitionBytes already yields enough splits and this is a
    no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def tokens(text: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda w: w != "")


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles (space-joined)."""
    ws = tokens(text)
    return F.array_distinct(
        F.when(
            F.size(ws) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - n),
                lambda j: F.array_join(F.slice(ws, j + 1, n), " "),
            ),
        ).otherwise(F.array(F.array_join(ws, " ")))
    )


# ------------------------------------------------------------------ #
# exact dedup
# ------------------------------------------------------------------ #
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per exact content hash. One shuffle
    (hash-groupBy); the min() means no row needs the full text shipped."""
    h = md5_int(F.col(text_col))
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ------------------------------------------------------------------ #
# MinHash + LSH
# ------------------------------------------------------------------ #
def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """k-permutation MinHash signature per document.

    Shape: ONE md5 per distinct shingle, exploded to (doc, shingle-hash)
    rows, then k affine permutations ((a_i·h+b_i) mod p) as k plain MIN
    aggregates in a single hash-aggregate. Everything stays inside
    whole-stage codegen — the previous formulation folded a 64-wide
    zip_with per shingle through higher-order functions, which Spark
    evaluates on the interpreted path (measured 10× slower at ~sf1:
    52 s → 5 s for the signature stage). Map-side partial MINs mean the
    shuffle carries one 64-vector per (partition, doc), and the output
    is identical in any SQL dialect."""
    # _spread BEFORE the shingle compute: a single-file source arrives
    # as one partition, and tokenization is the CPU-heavy stage
    rows = (
        _spread(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(shingles(F.col(text_col), shingle_n)).alias("__s"))
        .select(F.col(id_col), (md5_int(F.col("__s")) % F.lit(_MH_P)).alias("__h"))
    )
    aggs = []
    for i in range(k):
        a = (i * 2654435761) % (_MH_P - 1) + 1
        b = (i * 40503 + 17) % _MH_P
        aggs.append(
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(_MH_P)).alias(f"__m{i}")
        )
    sig = rows.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col), F.array(*[f"__m{i}" for i in range(k)]).alias("minhash")
    )


def minhash_bands(
    sigs: DataFrame,
    k: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, band_hash) rows from a minhash_signatures frame —
    the LSH banding step, shared by the self-join pair finder and the
    incremental index below."""
    r = k // bands
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: md5_int(
                    F.array_join(
                        F.transform(
                            F.slice(F.col("minhash"), b * r + 1, r),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ),
            )
        ).alias("band", "band_hash"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: split the k-long signature into `bands`
    bands of k/bands rows; docs sharing any band hash are candidates.

    Scale shape: explode to (doc, band, band_hash) — k/bands-fold row
    growth only — then self-equi-join on (band, band_hash). Catalyst
    hash-partitions by band hash; AQE handles hot buckets.

    ``sigs``: precomputed minhash_signatures output. Pass a
    persisted/checkpointed frame when composing with
    minhash_jaccard_estimate so the shingle+md5 pass runs once instead
    of once per consumer."""
    if sigs is None:
        sigs = minhash_signatures(df, text_col, id_col, k, shingle_n)
    banded = minhash_bands(sigs, k=k, bands=bands, id_col=id_col)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col(f"a.band") == F.col("b.band"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def minhash_jaccard_estimate(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    shingle_n: int = 3,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Estimated Jaccard (matching signature fraction) for candidate
    pairs — two broadcast-able joins against the signature table.
    ``sigs``: precomputed signatures (see minhash_lsh_pairs)."""
    if sigs is None:
        sigs = minhash_signatures(df, text_col, id_col, k, shingle_n)
    out = (
        pairs.join(sigs.withColumnRenamed(id_col, "id_a").withColumnRenamed("minhash", "sig_a"), "id_a")
        .join(sigs.withColumnRenamed(id_col, "id_b").withColumnRenamed("minhash", "sig_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                        lambda e: e,
                    )
                )
                / F.lit(float(k))
            ).alias("est_jaccard"),
        )
    )
    return out


# ------------------------------------------------------------------ #
# exact n-gram Jaccard via posting lists
# ------------------------------------------------------------------ #
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.3,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """Exact Jaccard similarity for every doc pair with J >= threshold.

    ``prefix_filter=None`` (default) AUTO-selects the plan from the
    shingle document-frequency profile: one cheap max(df) aggregate
    over the (persisted) shingle table, and if any shingle is shared by
    more than ``PPJOIN_DF_CUTOFF`` documents the PPJoin path is used —
    the posting-list join's cost is Σ df², so a single stopword shingle
    shared by millions of docs makes it quadratic on a Zipfian web
    corpus (a 50 s → 399 s swing on an ~sf1 corpus was exactly this
    head).

    ``prefix_filter=False``: posting-list self-join — intersections
    counted directly by the pair-grouped equi-join (no per-candidate
    array payloads), then one join against per-doc set sizes. This is
    the faster plan whenever candidate pruning can't shrink the join
    much (flat vocabularies, high dup rates — measured 4× faster at
    ~sf1 on the synthetic corpus than the verify-by-array variant
    below).

    ``prefix_filter=True``: AllPairs/PPJoin prefix filtering
    (exactness-preserving): shingles get a global canonical order
    (document frequency asc, hash asc); any pair with Jaccard >= t must
    share a shingle within each doc's first ``|d| - ceil(t*|d|) + 1``
    shingles in that order, so candidate generation only joins on
    PREFIX tokens and the df² head of a Zipfian vocabulary (stopword
    shingles shared by millions of docs) falls out of the candidate
    join. Verification ships each candidate pair's shingle-set arrays —
    worth it exactly when the prefix prunes most candidates. Both plans
    return identical (exact) results; only the join strategy differs."""
    from pyspark.sql import Window

    sh = (
        _spread(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(shingles(F.col(text_col), shingle_n)).alias("s"))
        .select(id_col, md5_int(F.col("s")).alias("sh"))
        .distinct()
    )
    if prefix_filter is None:
        sh = sh.persist()
        max_df = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .agg(F.max("df").alias("m"))
            .first()["m"]
        ) or 0
        prefix_filter = max_df > PPJOIN_DF_CUTOFF
    if not prefix_filter:
        sz = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(
                b,
                on=[
                    F.col("a.sh") == F.col("b.sh"),
                    F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
                ],
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        sa = sz.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
        sb = sz.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
        return (
            inter.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn(
                "jaccard",
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col)
    ranked = sh.join(freq, "sh").select(
        id_col,
        "sh",
        F.row_number().over(w.orderBy(F.col("df"), F.col("sh"))).alias("rank"),
        F.count(F.lit(1)).over(w).alias("sz"),  # same exchange as the rank
    )
    # per-doc set size + sorted shingle array for exact verification
    docsets = sh.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("sz"),
        F.sort_array(F.collect_list("sh")).alias("set"),
    )
    pref = ranked.filter(
        F.col("rank") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    )
    a, b = pref.alias("a"), pref.alias("b")
    cands = (
        a.join(b, on=[F.col("a.sh") == F.col("b.sh"), F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    sa = docsets.select(
        F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), F.col("set").alias("set_a")
    )
    sb = docsets.select(
        F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), F.col("set").alias("set_b")
    )
    out = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 10_000,
) -> DataFrame:
    """DIRECTED near-superset detection: shingle containment
    ``C(a, b) = |S_a ∩ S_b| / |S_a|`` for every ordered pair with
    C >= threshold — the asymmetric companion to Jaccard resemblance
    (Broder 1997's two measures): a short document quoted wholesale
    inside a long one has high containment but LOW Jaccard (the union
    is dominated by the long doc), so resemblance dedup misses exactly
    the quotation/boilerplate-envelope cases containment catches.
    Returns (id_a, id_b, n_common, containment) — id_a's shingles
    covered by id_b, both directions emitted when both clear the
    threshold.

    Scale shape: the ngram_jaccard posting plan — distinct
    (doc, shingle-hash) table (one corpus scan, localCheckpoint-ed so
    the posting join and the per-doc sizes share it), posting
    self-join on the shingle, pair hash-agg, size join — never
    all-pairs. ``max_shingle_df`` (default on, 10k) DROPS shingles
    shared by more docs than the cap from the join, the
    drop-and-stay-conservative discipline: intersections can only
    shrink, so capped containment never inflates; pass ``None`` to
    uncap."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError("containment_pairs: threshold must be in (0, 1]")
    sh = (
        _spread(df.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col).alias("__id"),
            F.explode(shingles(F.col(text_col), shingle_n)).alias("s"),
        )
        .select("__id", md5_int(F.col("s")).alias("sh"))
        .distinct()
        .localCheckpoint()
    )
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__sz"))
    posting = sh
    if max_shingle_df is not None:
        dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
        posting = (
            sh.join(dfreq.filter(F.col("__df") <= max_shingle_df), "sh")
            .select("__id", "sh")
        )
    a = posting.select(F.col("__id").alias("id_a"), "sh")
    b = posting.select(F.col("__id").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            sizes.select(F.col("__id").alias("id_a"), F.col("__sz")), "id_a"
        )
        .withColumn("containment", F.col("n_common") / F.col("__sz"))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_common", "containment")
    )


# ------------------------------------------------------------------ #
# SimHash
# ------------------------------------------------------------------ #
def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
) -> DataFrame:
    """SimHash fingerprint: per bit j, sign of Σ_tokens (±1 weighted by
    token count); bit j of each token from its md5 hash. One md5 per
    token exploded to rows, then `bits` conditional SUMs in a single
    hash-aggregate — whole-stage codegen with map-side partials (the
    previous per-row zip_with fold ran on Spark's interpreted HOF path,
    and computed every md5 in the source's partition layout — one task
    for a single-file source). 48 bits keeps the packed value well
    inside int64 for SQL portability. Docs with no tokens produce no
    fingerprint row (matching the SQL replay)."""
    rows = (
        _spread(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__w"))
        .select(F.col(id_col), md5_int(F.col("__w")).alias("__h"))
    )
    aggs = [
        F.sum(
            F.when(
                F.col("__h").bitwiseAND(F.lit(1 << j).cast("bigint")) != 0, 1
            ).otherwise(-1)
        ).alias(f"__b{j}")
        for j in range(bits)
    ]
    counts = rows.groupBy(id_col).agg(*aggs)
    packed = F.lit(0).cast("bigint")
    for j in range(bits):
        packed = packed + F.when(
            F.col(f"__b{j}") > 0, F.lit(1 << j).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return counts.select(F.col(id_col), packed.alias("simhash"))


def simhash_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Pigeonhole blocking: split the fingerprint into n_blocks block keys
    (> max_hamming ⇒ any close pair shares ≥1 exact block) and equi-join
    on (block_idx, block_value) — never an all-pairs scan."""
    width = bits // n_blocks
    sh = simhash(df, text_col, id_col, bits)
    mask = (1 << width) - 1
    blocked = sh.select(
        id_col,
        "simhash",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_blocks - 1)),
                lambda i: F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit(mask)),
            )
        ).alias("block_idx", "block_val"),
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    hamming = _popcount64(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            on=[
                F.col("a.block_idx") == F.col("b.block_idx"),
                F.col("a.block_val") == F.col("b.block_val"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _popcount64(c: Column) -> Column:
    return F.bit_count(c)


# ------------------------------------------------------------------ #
# embedding near-dup
# ------------------------------------------------------------------ #
def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays (JVM-side fold)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return dot / (na * nb)


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    lsh_bits: int | None = None,
) -> DataFrame:
    """Pairs with cosine ≥ threshold.

    lsh_bits=None (default) AUTO-selects: exact blocked all-pairs up to
    ``EMB_EXACT_CUTOFF`` rows, hyperplane LSH above it with bits sized
    so expected bucket occupancy stays ~8k rows — a naive caller on a
    100-TB corpus never gets the quadratic plan by default; pass
    lsh_bits=0 to force exact.

    lsh_bits=0: exact blocked all-pairs — hash ids into BOUNDED chunks
    (~512 vectors each), cross-join the chunk pairs, and compute each
    chunk-pair's cosine matrix as ONE numpy gemm inside mapInPandas.
    Same O(n²) arithmetic as naive pairwise but at BLAS speed,
    distributed over chunk pairs, with per-Row memory independent of
    corpus size.
    lsh_bits>0: random-hyperplane LSH — bucket by the sign-bit vector of
    `lsh_bits` deterministic hyperplanes (inlined literals, zero per-row
    hashing), join within buckets only. High-cosine pairs collide with
    probability (1 - θ/π)^bits; THIS is the subquadratic 100-TB path —
    at scale run a few seeds/rotations and union the candidate sets."""
    import math

    base = df.select(F.col(id_col), F.col(vec_col))
    if lsh_bits is None:
        n = base.count()
        if n <= EMB_EXACT_CUTOFF:
            lsh_bits = 0
        else:
            lsh_bits = min(24, max(8, math.ceil(math.log2(n / 8192.0))))
    if lsh_bits:
        dim = base.select(F.size(vec_col).alias("d")).first()["d"]
        sig = _hyperplane_sig(F.col(vec_col), lsh_bits, dim)
        # norm computed once per ROW before the self-join instead of
        # twice per candidate PAIR (r10, guide §1.2) — dot/(na·nb) is
        # the identical expression tree `cosine` evaluates, and the
        # projection below the join blocks re-inlining
        norm = F.sqrt(
            F.aggregate(
                F.col(vec_col),
                F.lit(0.0),
                lambda acc, v: acc + v.cast("double") * v.cast("double"),
            )
        )
        base = base.withColumn("__bucket", sig).withColumn("__n", norm)
        a, b = base.alias("a"), base.alias("b")
        joined = a.join(
            b,
            on=[
                F.col("a.__bucket") == F.col("b.__bucket"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        dot = F.aggregate(
            F.zip_with(
                F.col(f"a.{vec_col}"),
                F.col(f"b.{vec_col}"),
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        cos = dot / (F.col("a.__n") * F.col("b.__n"))
        return joined.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cosine"),
        ).filter(F.col("cosine") >= threshold)
    return _blocked_allpairs_cosine(base, vec_col, id_col, threshold)


def _blocked_allpairs_cosine(
    base: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    chunk_rows: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine with BOUNDED chunks: ids hash into
    ceil(n / chunk_rows) chunks, so one Row never holds more than
    ~chunk_rows vectors no matter the corpus size (the fixed-16-bucket
    variant put n/16 vectors in a single Row — impossible at scale).
    Chunk-pair count grows as (n/chunk_rows)²/2, so parallelism scales
    with the corpus. The arithmetic is inherently O(n²) — that's what
    'exact' costs; the hyperplane-LSH path is the subquadratic option.

    ``chunk_rows=None`` adapts: each vector ships once per chunk it
    pairs with, so bigger chunks mean less shuffle — the default sizes
    chunks to keep ~4 chunk-pairs per core while staying in
    [512, 4096] rows (bounded memory at any corpus size)."""
    import math

    import numpy as np
    import pandas as pd

    n = base.count()
    if chunk_rows is None:
        par = base.sparkSession.sparkContext.defaultParallelism
        nb = max(1, math.ceil(math.sqrt(8.0 * par)))
        chunk_rows = min(4096, max(512, -(-n // nb)))
    n_blocks = max(1, -(-n // chunk_rows))

    bucketed = base.groupBy(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("__b")
    ).agg(
        F.collect_list(F.col(id_col)).alias("__ids"),
        F.collect_list(F.col(vec_col)).alias("__vecs"),
    )
    left = bucketed.select(
        F.col("__b").alias("ba"), F.col("__ids").alias("ids_a"), F.col("__vecs").alias("vecs_a")
    )
    right = bucketed.select(
        F.col("__b").alias("bb"), F.col("__ids").alias("ids_b"), F.col("__vecs").alias("vecs_b")
    )
    combos = left.join(right, on=F.col("ba") <= F.col("bb")).repartition(
        max(32, min(4096, n_blocks * (n_blocks + 1) // 2))
    )

    def run(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids_a = np.asarray(row["ids_a"])
                ids_b = np.asarray(row["ids_b"])
                A = np.asarray([np.asarray(v, dtype=float) for v in row["vecs_a"]])
                B = np.asarray([np.asarray(v, dtype=float) for v in row["vecs_b"]])
                An = A / np.linalg.norm(A, axis=1, keepdims=True)
                Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
                C = An @ Bn.T
                ii, jj = np.where(C >= threshold)
                la, lb, cs = ids_a[ii], ids_b[jj], C[ii, jj]
                if row["ba"] == row["bb"]:
                    # same bucket: each unordered pair appears twice in C
                    keep = la < lb
                    la, lb, cs = la[keep], lb[keep], cs[keep]
                else:
                    # cross bucket: pair appears once — normalize id order
                    lo = np.minimum(la, lb)
                    hi = np.maximum(la, lb)
                    la, lb = lo, hi
                if len(la):
                    yield pd.DataFrame({"id_a": la, "id_b": lb, "cosine": cs})

    return combos.mapInPandas(run, schema="id_a bigint, id_b bigint, cosine double")


def _hyperplane_planes(dim: int, bits: int, seed: int = 0x5EED) -> list:
    """Deterministic hyperplane components in [-1, 1) from an md5
    counter stream — computed ONCE driver-side and inlined as literals
    (the previous per-element md5 inside the fold re-hashed dim·bits
    times per row)."""
    import hashlib

    out: list[float] = []
    ctr = 0
    while len(out) < dim * bits:
        h = hashlib.md5(f"hp:{seed}:{ctr}".encode()).digest()
        for k in range(0, 16, 8):
            out.append(int.from_bytes(h[k : k + 8], "big") / float(1 << 64) * 2.0 - 1.0)
        ctr += 1
    return [out[j * dim : (j + 1) * dim] for j in range(bits)]


def _hyperplane_sig(vec: Column, bits: int, dim: int, seed: int = 0x5EED) -> Column:
    """Sign-bit signature under `bits` deterministic hyperplanes. The
    planes are literal arrays (zero per-row hashing); each bit is one
    JVM-side zip_with dot product."""
    planes = _hyperplane_planes(dim, bits, seed)
    terms = []
    for j, p in enumerate(planes):
        lit = F.array(*[F.lit(float(x)) for x in p])
        d = F.aggregate(
            F.zip_with(vec, lit, lambda v, w: v.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        terms.append(
            F.when(d > 0, F.lit(1 << j).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    return F.aggregate(
        F.array(*terms), F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )


# ------------------------------------------------------------------ #
# Connected components (dedup cluster assignment)
# ------------------------------------------------------------------ #
def _cc_driver(e: DataFrame) -> DataFrame:
    """Driver union-find over a bounded, deduplicated (u, v) edge
    checkpoint — the sub-cutoff path of :func:`connected_components`.
    Output is bit-identical to the distributed star rounds: every
    endpoint appears once, labeled with the smallest id in its
    component (min-label union-find is order-independent)."""
    from pyspark.sql import types as T

    from ..operators.graph import _lc_release

    rows = e.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    # min id per component (root choice above is arbitrary)
    comp_min: dict = {}
    finals = [(n, find(n)) for n in parent]
    for n, r in finals:
        m = comp_min.get(r)
        if m is None or n < m:
            comp_min[r] = n
    id_type = e.schema["u"].dataType
    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("component", id_type)]
    )
    out = e.sparkSession.createDataFrame(
        [(n, comp_min[r]) for n, r in finals], schema
    )
    _lc_release(e)
    return out


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    driver_cutoff: int | None = None,
) -> DataFrame:
    """Connected components of an undirected edge list, returned as
    (node, component) with component = smallest node id in the
    component. This is the step that turns near-dup PAIRS into dedup
    CLUSTERS (keep one doc per component).

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", reference-free): converges in
    O(log n) rounds, each round is two hash-shuffles keyed on node id
    with per-group state bounded by node degree — no driver union-find,
    no transitive-closure row blow-up, so the same plan holds on a
    100 TB dup graph. Each round ends in localCheckpoint() to truncate
    lineage (iterative plans otherwise grow exponentially in Catalyst).

    ``driver_cutoff``: when the DEDUPLICATED edge list has at most this
    many rows, skip the iterative rounds and run a driver-side
    union-find instead (exact same (node, min-id component) output —
    min-label union-find is order-independent integer arithmetic, so
    the two paths are bit-identical). The distributed rounds cost ~6
    shuffles + one action EACH regardless of data size; below the
    cutoff that fixed cost dwarfs a single bounded collect — the same
    size-gated driver/distributed split as bpe_train's
    SMALL_VOCAB_CUTOFF and Spark's own broadcast-join threshold.
    Default from ``$SPARK_GRAFT_CC_DRIVER_CUTOFF`` (500_000 edges ≈
    a broadcast-sized collect); set 0 to force the distributed path.
    """
    if driver_cutoff is None:
        import os

        driver_cutoff = int(os.environ.get("SPARK_GRAFT_CC_DRIVER_CUTOFF", "500000"))
    # checkpoint the input once: every round (and the final node list)
    # would otherwise re-execute the upstream pair-generation lineage
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # the driver path builds its output schema from u's type alone —
    # only take it when both endpoint columns agree (a u/v type mismatch
    # would truncate where the distributed rounds' unions type-coerce);
    # mismatched inputs fall through to the star rounds (ADVICE r09)
    if (
        driver_cutoff > 0
        and e.schema["u"].dataType == e.schema["v"].dataType
        and e.count() <= driver_cutoff
    ):
        return _cc_driver(e)
    e0 = e
    prev_sig = None
    prev_ckpt = None  # superseded per-round edge checkpoints we own
    for _ in range(max_iter):
        # large-star: every neighbor larger than u links to min(N(u) ∪ {u})
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = und.groupBy("u").agg(F.min("v").alias("__mn"))
        mins = mins.select("u", F.least("u", "__mn").alias("m"))
        e = (
            und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: orient child ≥ parent, link children + self to the min
        o = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = o.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            o.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).first()
        # eager release of the superseded round checkpoint (the
        # pagerank lesson: ContextCleaner is driver-GC-paced, and a
        # 100 TB dup graph leaves an edge-sized block set per round)
        from ..operators.graph import _lc_release

        _lc_release(prev_ckpt)
        prev_ckpt = e
        if prev_sig == (sig["n"], sig["h"]):
            break
        prev_sig = (sig["n"], sig["h"])
    # converged: e is a star graph child -> root; roots label themselves
    nodes = (
        e0.select(F.col("u").alias("node"))
        .union(e0.select(F.col("v").alias("node")))
        .distinct()
    )
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH candidate pairs →
    connected components → (doc_id, component, cluster_size). The keep
    policy is 'retain doc_id == component' (smallest id per cluster)."""
    sigs = minhash_signatures(df, text_col, id_col, k).localCheckpoint()
    pairs = minhash_lsh_pairs(df, text_col, id_col, k=k, bands=bands, sigs=sigs)
    comp = connected_components(pairs, "id_a", "id_b")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "component").select(
        F.col("node").alias(id_col), "component", "cluster_size"
    )


# ------------------------------------------------------------------ #
# semantic dedup (SemDeDup: k-means partition + intra-cluster cosine)
# ------------------------------------------------------------------ #
def kmeans_embeddings(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic Lloyd's k-means over an embedding column.

    Engine-portable by construction so any SQL dialect reproduces it:
    seeds are the k rows with smallest md5(id) (same convention as
    ivf_build), every centroid coordinate is rounded to 6 decimals after
    each mean (kills summation-order ulp drift), and squared distances
    are rounded to 9 decimals before the argmin (ties break toward the
    smaller cell id).

    Scale shape: each iteration is (a) a ZERO-SHUFFLE per-row argmin
    against the inlined k x d codebook (pure codegen projection — no
    join, no window), then (b) posexplode -> groupBy(cell, pos) avg with
    map-side partials: shuffle traffic is O(partitions * k * d), never
    O(rows). The codebook collected per iteration is k*d doubles. This
    is the standard broadcast-Lloyd layout used at web scale; n_iter is
    fixed (not convergence-tested) so runs are reproducible.
    """
    base = df.select(F.col(id_col), F.col(vec_col)).localCheckpoint()
    seeds = (
        base.withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h")
        .limit(k)
        .select(vec_col)
        .collect()
    )
    cents = [[round(float(x), 6) for x in r[vec_col]] for r in seeds]

    def _assign(cents_now: list[list[float]]) -> DataFrame:
        # Arrow-batched numpy argmin over the broadcast codebook — one
        # gemm per batch instead of k*d interpreted HOF fold steps per
        # row (the ivf_build lesson: measured 2.5x even at sf0.1, and
        # the gap grows with k). Distances round to 9 decimals before
        # the argmin, so the gemm's different summation order cannot
        # diverge from the oracle's elementwise fold (both errors are
        # ~1e-12, far under the rounding grain); np.argmin takes the
        # FIRST min, matching the tie-break toward the smaller cell id.
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        C = np.asarray(cents_now, dtype=np.float64)
        c_sq = (C * C).sum(axis=1)

        def _cell_fn(vecs):
            M = np.array(vecs.tolist(), dtype=np.float64)
            d = (M * M).sum(axis=1, keepdims=True) - 2.0 * (M @ C.T) + c_sq
            return pd.Series(np.argmin(np.round(d, 9), axis=1).astype("int32"))

        _cell_fn.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
        cell = pandas_udf(_cell_fn, "int")
        return base.select(
            F.col(id_col), F.col(vec_col), cell(F.col(vec_col)).alias("cell")
        )

    for _ in range(n_iter):
        assigned = _assign(cents)
        means = (
            assigned.select("cell", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.col("pm.m").alias("c_vec"))
            .collect()
        )
        by_cell = {r["cell"]: list(r["c_vec"]) for r in means}
        # empty cells keep their previous centroid (deterministic)
        cents = [by_cell.get(i, cents[i]) for i in range(k)]
    return _assign(cents), cents


def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): partition the
    corpus with k-means, then inside each cluster drop every vector
    that has a more-senior (smaller-id) cluster-mate with cosine >=
    threshold. Returns one row per cluster:
    (cell, n_members, n_dup_pairs, n_dropped) — integer-only output so
    the result hashes identically on any engine.

    Scale shape: the quadratic term is confined WITHIN clusters and
    computed as chunked numpy gemm inside one applyInPandas over
    groupBy(cell) — per-task memory is bounded by the 1024-row chunk x
    cluster width regardless of cluster size, the O(|cell|^2) dot
    products run at BLAS speed (the equi-self-join + interpreted HOF
    cosine fold this replaced was ~10x slower and shuffled |cell|^2
    rows), and cells process in parallel (size k with the corpus so
    clusters stay ~10^4-10^5 vectors). The k-means pass is the
    zero-shuffle broadcast-Lloyd above. This is the subquadratic
    complement to embedding_dup_pairs' hyperplane LSH: LSH recalls by
    random projection, SemDeDup by learned partition.
    """
    import numpy as np
    import pandas as pd

    assigned, _ = kmeans_embeddings(df, k, n_iter, vec_col, id_col)
    assigned = assigned.localCheckpoint()

    def _cell_stats(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        M = np.array(pdf[vec_col].tolist(), dtype=np.float64)[order]
        norms = np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
        Mn = M / norms
        m = len(Mn)
        n_pairs = 0
        dropped = np.zeros(m, dtype=bool)
        for lo in range(0, m, 1024):
            hi = min(lo + 1024, m)
            S = np.round(Mn[lo:hi] @ Mn.T, 9)  # (chunk, m)
            ii, jj = np.nonzero(S >= threshold)
            keep = (ii + lo) < jj  # senior (smaller-id) side only
            n_pairs += int(keep.sum())
            dropped[np.unique(jj[keep])] = True
        return pd.DataFrame(
            [
                {
                    "cell": int(pdf["cell"].iloc[0]),
                    "n_members": m,
                    "n_dup_pairs": n_pairs,
                    "n_dropped": int(dropped.sum()),
                }
            ]
        )

    stats = assigned.groupBy("cell").applyInPandas(
        _cell_stats,
        schema="cell int, n_members bigint, n_dup_pairs bigint, n_dropped bigint",
    )
    return stats.orderBy("cell")


# ------------------------------------------------------------------ #
# exact-substring dedup signal (duplicated n-gram coverage)
# ------------------------------------------------------------------ #
def duplicated_gram_stats(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-substring statistics — the ExactSubstr
    dedup signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499) in its k-gram form: a
    token n-gram occurring in >= 2 distinct documents marks duplicated
    text. Returns (doc_id, n_grams, n_dup_occ, n_dup_distinct):
    total n-gram slots, slots covered by a cross-document gram, and
    distinct cross-document grams in the doc.

    Scale shape: tokens materialize in their OWN projection (never
    recomputed per lambda slot — the CollapseProject class), grams are
    per-row xxhash64 of each n-token window (JVM-native; the hash never
    reaches the output, so the oracle's string grams replay the same
    COUNTS), the document-frequency table flags cross-document grams
    with a min!=max id test (two simple agg buffers instead of a
    countDistinct), and the flag joins back on the gram int — explode
    -> two hash shuffles bounded by corpus gram count, the posting-list
    pattern shared with winnowing_overlap_pairs().
    Suffix-array ExactSubstr finds arbitrary-length repeats; the
    fixed-n gram form is the shuffle-friendly approximation (any
    repeat >= n tokens is caught).
    """
    # tokenized once for both the gram chain and the totals projection
    # (uncheckpointed each consumer re-parsed the corpus)
    base = (
        _spread(df.select(id_col, text_col))
        .select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
        .localCheckpoint()
    )
    # explode gram POSITIONS first, hash per exploded row: Generate
    # re-evaluates an expensive generator expression, so exploding a
    # HOF-built hash array costs O(slots) re-builds per document —
    # measured 18x slower than this position-explode form at sf0.1
    pos = base.select(
        F.col(id_col),
        F.col("__toks"),
        F.explode(
            F.when(
                F.size("__toks") >= n,
                F.sequence(F.lit(1), F.size("__toks") - n + 1),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("__i"),
    )
    occ = pos.select(
        F.col(id_col),
        F.xxhash64(F.concat_ws(" ", F.slice("__toks", F.col("__i"), n))).alias("gh"),
    )
    dfreq = (
        occ.groupBy("gh")
        .agg(F.min(id_col).alias("__lo"), F.max(id_col).alias("__hi"))
        .filter(F.col("__lo") != F.col("__hi"))
        .select("gh")
    )
    hits = (
        occ.join(dfreq, "gh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_occ"),
            F.countDistinct("gh").alias("n_dup_distinct"),
        )
    )
    totals = base.select(
        F.col(id_col),
        F.greatest(F.size("__toks") - n + 1, F.lit(0)).cast("long").alias("n_grams"),
    )
    return (
        totals.join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_grams"),
            F.coalesce("n_dup_occ", F.lit(0)).alias("n_dup_occ"),
            F.coalesce("n_dup_distinct", F.lit(0)).alias("n_dup_distinct"),
        )
        .orderBy(id_col)
    )


# ------------------------------------------------------------------ #
# corpus-level line dedup (RefinedWeb / CCNet paragraph dedup)
# ------------------------------------------------------------------ #
def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_count: int = 2,
    min_line_chars: int = 0,
    words_per_line: int | None = None,
) -> DataFrame:
    """Remove every line that appears verbatim in >= ``min_count``
    DISTINCT documents corpus-wide, then reassemble each document
    (RefinedWeb-style paragraph dedup; CCNet does the same at the
    paragraph level). Lines shorter than ``min_line_chars`` are exempt:
    never counted, never removed (boilerplate guard for ''/whitespace).

    ``words_per_line`` switches segmentation from ``split(text, sep)``
    to fixed word windows of that width — for corpora whose documents
    carry no newline structure.

    Returns (id_col, text_clean, n_kept, n_removed) with every input
    document present (possibly with text_clean = '').

    Scale shape: explode -> distinct(doc, hash) -> hash-groupBy count
    (the count side ships only 60-bit hashes), one equi left-join of
    lines against the duplicate-hash set, one groupBy(doc) to
    reassemble. Three shuffles, all hash-partitioned equi ops; no
    per-row state beyond a line. At 100 TB the duplicate-hash table is
    the corpus' boilerplate vocabulary — orders of magnitude smaller
    than the corpus — and AQE can broadcast it when it fits.
    """
    import re as _re

    txt = F.col("__t")
    if words_per_line is not None:
        w = int(words_per_line)
        ws = tokens(txt)
        n_lines = F.greatest(F.ceil(F.size(ws) / F.lit(w)), F.lit(1)).cast("int")
        arr = F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda j: F.array_join(F.slice(ws, j * w + 1, w), " "),
        )
    else:
        arr = F.split(txt, _re.escape(sep), -1)

    base = _spread(
        df.select(F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias("__t"))
    )
    # own projection so the token array isn't re-derived per lambda slot;
    # checkpointed because the line table feeds BOTH the duplicate-hash
    # census and the reassembly join (each otherwise re-splits the corpus)
    lines = (
        base.select(F.col(id_col), arr.alias("__arr"))
        .select(F.col(id_col), F.posexplode("__arr").alias("pos", "line"))
        .select(
            F.col(id_col),
            "pos",
            "line",
            md5_int(F.col("line")).alias("h"),
            (F.length("line") < min_line_chars).alias("exempt"),
        )
        .localCheckpoint()
    )
    dup_h = (
        lines.filter(~F.col("exempt"))
        .select(id_col, "h")
        .distinct()
        .groupBy("h")
        .count()
        .filter(F.col("count") >= min_count)
        .select("h", F.lit(True).alias("__dup"))
    )
    keep = F.col("exempt") | F.col("__dup").isNull()
    return (
        lines.join(dup_h, "h", "left")
        .groupBy(id_col)
        .agg(
            F.sum(keep.cast("bigint")).alias("n_kept"),
            F.sum((~keep).cast("bigint")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(keep, F.struct("pos", "line")))
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("text_clean"),
        )
        .select(id_col, "text_clean", "n_kept", "n_removed")
    )


# ------------------------------------------------------------------ #
# incremental dedup: match a NEW batch against a persisted index of
# everything already accepted — the batch-over-batch production shape
# (crawl snapshot N+1 vs the deduped corpus so far). The index is the
# band table + content hashes: tiny relative to the corpus, and both
# joins are plain hash equi-joins partitioned by band_hash / hash.
# ------------------------------------------------------------------ #
def minhash_index_write(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> None:
    """Persist the dedup index for a corpus: LSH band table partitioned
    by band (so incremental joins prune files) + exact content hashes."""
    import os

    sigs = minhash_signatures(corpus, text_col, id_col, k, shingle_n)
    minhash_bands(sigs, k=k, bands=bands, id_col=id_col).write.mode(
        "overwrite"
    ).partitionBy("band").parquet(os.path.join(path, "bands"))
    corpus.select(
        F.col(id_col), md5_int(F.col(text_col)).alias("content_hash")
    ).write.mode("overwrite").parquet(os.path.join(path, "hashes"))


def minhash_index_read(spark, path: str) -> tuple[DataFrame, DataFrame]:
    import os

    return (
        spark.read.parquet(os.path.join(path, "bands")),
        spark.read.parquet(os.path.join(path, "hashes")),
    )


def dedup_against_index(
    new_df: DataFrame,
    index_bands: DataFrame,
    index_hashes: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Screen a new batch against the persisted index. Returns one row
    per new document: (id, is_exact_dup, n_index_candidates,
    first_match_id) — exact dup = content hash already indexed;
    candidates = indexed docs sharing >= 1 LSH band (near-dup suspects
    for the jaccard re-rank).

    Scale shape: the new batch (small) computes signatures map-side;
    both probes are hash equi-joins where the BIG side (the index) is
    pre-partitioned on the join key — no corpus rescan, no self-join.
    """
    new_bands = minhash_bands(
        minhash_signatures(new_df, text_col, id_col, k, shingle_n),
        k=k,
        bands=bands,
        id_col=id_col,
    )
    ib = index_bands.select(
        F.col("band"),
        F.col("band_hash"),
        F.col(id_col).alias("__index_id"),
    )
    cand = (
        new_bands.join(ib, ["band", "band_hash"])
        .select(id_col, "__index_id")
        .distinct()
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_index_candidates"),
            F.min("__index_id").alias("first_match_id"),
        )
    )
    out = new_df.select(
        F.col(id_col), md5_int(F.col(text_col)).alias("__ch")
    )
    if index_hashes is not None:
        ih = index_hashes.select(
            F.col("content_hash").alias("__ch"), F.lit(True).alias("__hit")
        ).distinct()
        out = out.join(ih, "__ch", "left").withColumn(
            "is_exact_dup", F.coalesce("__hit", F.lit(False))
        )
    else:
        out = out.withColumn("is_exact_dup", F.lit(False))
    return (
        out.join(cand, id_col, "left")
        .select(
            id_col,
            "is_exact_dup",
            F.coalesce("n_index_candidates", F.lit(0)).alias("n_index_candidates"),
            "first_match_id",
        )
    )


def select_cluster_representatives(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Quality-aware keep policy over dedup_clusters output: per
    near-dup component, keep the member with the HIGHEST quality score
    (ties toward the smaller id) instead of the smallest id — the
    policy real pipelines use so the cleanest copy of a near-dup group
    survives.

    ``clusters``: (id_col, component, cluster_size) from dedup_clusters;
    ``quality``: (id_col, quality_col) — e.g. textstats.quality_score
    or a model score.

    Returns (id_col, component, cluster_size, quality, keep) with
    exactly one keep=true per component. One equi-join on id + one
    hash-agg max_by per component — no window over the corpus.
    """
    j = clusters.join(quality.select(id_col, quality_col), id_col, "left")
    # min_by over the ordering struct (-quality, id): the smallest struct
    # is the highest quality, ties broken toward the smaller id. Never
    # negates the id itself, so string/UUID/URL doc ids work (unary minus
    # on a string column would cast-to-double -> NULL and drop every
    # representative).
    best = j.groupBy("component").agg(
        F.min_by(
            F.col(id_col),
            F.struct(
                (-F.coalesce(F.col(quality_col), F.lit(float("-inf")))).alias(
                    "negq"
                ),
                F.col(id_col).alias("i"),
            ),
        ).alias("__keep_id")
    )
    return (
        j.join(best, "component")
        .select(
            F.col(id_col),
            "component",
            "cluster_size",
            F.col(quality_col),
            (F.col(id_col) == F.col("__keep_id")).alias("keep"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    scope: str = "cross_doc",
) -> DataFrame:
    """ExactSubstr-style span REMOVAL (Lee et al. 2022, k-gram form):
    every token covered by a duplicated n-token window is cut from the
    document, and the survivors are reassembled in order.
    ``scope='cross_doc'`` marks a window duplicated when it appears in
    >= 2 DISTINCT documents (boilerplate across the corpus);
    ``scope='any'`` also catches within-document repetition (>= 2
    occurrences anywhere). This removes ALL occurrences of a duplicated
    span — the all-but-one policy of the paper needs a global
    occurrence order and is deliberately not replicated here.

    Returns (id_col, text_clean, n_tokens, n_kept, n_removed) with every
    input document present. Documents shorter than ``n`` tokens have no
    windows and pass through unchanged.

    Scale shape: window hashes are one explode bounded by token count,
    the duplicate set is one hash-groupBy carrying 60-bit hashes, the
    coverage explode is n rows per duplicated window (linear, n fixed),
    and the rebuild is one groupBy(doc). Everything is hash-partitioned
    equi ops — the posting-list pattern of duplicated_gram_stats with a
    coverage anti-join on top.
    """
    if scope not in ("cross_doc", "any"):
        raise ValueError(f"unknown scope {scope!r}")
    # The tokenized table feeds the window-hash explode, the positioned
    # token explode AND the totals projection — uncheckpointed, the text
    # parse + tokenize runs once per consumer in the same plan (3-4
    # corpus passes). One materialization, read by all three.
    base = (
        _spread(df.select(id_col, text_col))
        .select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
        .localCheckpoint()
    )
    pos = base.select(
        F.col(id_col),
        F.col("__toks"),
        F.explode(
            F.when(
                F.size("__toks") >= n,
                F.sequence(F.lit(1), F.size("__toks") - n + 1),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("__i"),
    )
    occ = pos.select(
        F.col(id_col),
        F.col("__i"),
        md5_int(F.concat_ws(" ", F.slice("__toks", F.col("__i"), n))).alias("gh"),
    )
    g = occ.groupBy("gh").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(id_col).alias("__lo"),
        F.max(id_col).alias("__hi"),
    )
    dup = (
        g.filter(F.col("__lo") != F.col("__hi"))
        if scope == "cross_doc"
        else g.filter(F.col("__n") >= 2)
    ).select("gh")
    covered = (
        occ.join(dup, "gh")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("__i"), F.col("__i") + n - 1)).alias("pos"),
        )
        .distinct()
    )
    toks = base.select(
        F.col(id_col), F.posexplode("__toks").alias("__p0", "w")
    ).select(F.col(id_col), (F.col("__p0") + 1).alias("pos"), "w")
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("text_clean"),
    )
    totals = base.select(
        F.col(id_col), F.size("__toks").cast("long").alias("n_tokens")
    )
    return totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        "n_tokens",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
    )


def _passjoin_seg(lt: Column, i: Column, k: int) -> tuple[Column, Column]:
    """Even-partition segment geometry for PassJoin: target length
    ``lt`` split into k+1 segments — the first ``(k+1) - lt%(k+1)``
    of length ``lt//(k+1)``, the rest one longer. Returns (start0,
    seg_len) as 0-based start + length for segment ``i``."""
    m = k + 1
    base = F.floor(lt / m)
    rem = lt % m
    firsts = m - rem
    seg_len = F.when(i < firsts, base).otherwise(base + 1)
    start0 = F.when(i < firsts, i * base).otherwise(
        firsts * base + (i - firsts) * (base + 1)
    )
    return start0, seg_len


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 2,
    max_postings_per_segment: int | None = 1024,
) -> DataFrame:
    """Edit-distance similarity join via PassJoin (Li, Deng, Wang &
    Feng, VLDB 2012): all pairs (id_a, id_b, dist) with
    ``levenshtein <= max_dist``, id_a < id_b — EXACTLY the naive
    all-pairs answer, never computed all-pairs. Pigeonhole: split the
    shorter string of a pair into ``max_dist + 1`` segments — k edits
    can corrupt at most k of them, so at least ONE segment survives
    VERBATIM as a substring of the longer string within ±k of its
    original position. Candidates therefore come from an EQUI-join of
    indexed segments against probe substrings; this stays selective
    even when every string has the SAME length (where naive
    length-blocking collapses into one all-pairs block).

    Scale shape: index side explodes each string into k+1 segments
    keyed (segment_index, length, segment_text); probe side explodes
    each string into the ≤ (k+1)²·(2k+1) substrings that could equal
    an in-window segment of a ≤ k-shorter string (k=2: ≤ 45/doc);
    ONE equi-join on the key, pair distinct, then the JVM
    banded-threshold ``levenshtein(a, b, k)`` verify (O(len·k)
    early-exit DP) on candidates only. Boilerplate floods make hot
    segment keys: ``max_postings_per_segment`` drops over-cap index
    keys (conservative — a pair is lost only if EVERY surviving
    segment of it overflowed; deterministic, so an oracle replaying
    the cap matches) — audit with :func:`edit_distance_overflow`.
    Strings shorter than ``max_dist + 1`` can have empty segments
    (pigeonhole breaks), so pairs whose shorter side is that tiny run
    through a bounded short-bucket path instead. The input projection
    is consumed by up to four subtrees (index, probe, the distinct-
    length table, and the optional cap count) — each re-evaluates the
    source plan, which for a plain column scan is the right trade
    (persisting a 100-TB text column is worse than rescanning a
    pruned parquet column); persist upstream yourself if the input is
    an expensive derived plan."""
    if max_dist < 1:
        raise ValueError("edit_distance_pairs: max_dist must be >= 1")
    k = max_dist
    m = k + 1
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__t"),
        F.length(text_col).alias("__l"),
    ).filter(F.col("__t").isNotNull())
    long_side = base.filter(F.col("__l") >= m)

    # ---- index: k+1 segments per string (its own length partition)
    idx = long_side.select(
        F.col("__id").alias("id_t"),
        F.col("__t").alias("__tt"),
        F.col("__l").alias("lt"),
        F.explode(F.sequence(F.lit(0), F.lit(k))).alias("i"),
    )
    st, sl = _passjoin_seg(F.col("lt"), F.col("i"), k)
    idx = idx.select(
        "id_t",
        "__tt",
        "lt",
        "i",
        F.substring(F.col("__tt"), (st + 1).cast("int"), sl.cast("int")).alias(
            "seg"
        ),
    )
    if max_postings_per_segment is not None:
        over = (
            idx.groupBy("i", "lt", "seg")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_postings_per_segment)
            .select("i", "lt", "seg")
        )
        idx = idx.join(over, ["i", "lt", "seg"], "left_anti")

    # ---- probe: substrings that could equal an indexed segment of a
    # string up to k shorter (lt in [ls-k, ls], lt >= m); position
    # window ±k around the segment's home start, clamped to bounds.
    # Probe only target lengths that EXIST on the index side (broadcast
    # semi-join on the tiny distinct-length table) — on uniform-length
    # corpora this collapses the lt fan-out from k+1 to 1
    lengths = long_side.select(F.col("__l").alias("lt")).distinct()
    probe = long_side.select(
        F.col("__id").alias("id_s"),
        F.col("__t").alias("__ts"),
        F.col("__l").alias("ls"),
        F.explode(
            F.sequence(
                F.greatest(F.lit(m), F.col("__l") - k), F.col("__l")
            )
        ).alias("lt"),
    ).join(F.broadcast(lengths), "lt", "left_semi").select(
        "id_s",
        "__ts",
        "ls",
        "lt",
        F.explode(F.sequence(F.lit(0), F.lit(k))).alias("i"),
    )
    pst, psl = _passjoin_seg(F.col("lt"), F.col("i"), k)
    lo = F.greatest(F.lit(0), pst - k)
    hi = F.least(F.col("ls") - psl, pst + k)
    probe = probe.select(
        "id_s",
        "__ts",
        "ls",
        "lt",
        "i",
        psl.alias("__sl"),
        F.explode(
            F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
                F.array().cast("array<bigint>")
            )
        ).alias("p"),
    ).select(
        "id_s",
        "__ts",
        "ls",
        "lt",
        "i",
        F.substring(
            F.col("__ts"), (F.col("p") + 1).cast("int"), F.col("__sl").cast("int")
        ).alias("seg"),
    )
    cand_long = (
        probe.join(idx, ["i", "lt", "seg"])
        .filter(
            (F.col("lt") < F.col("ls"))
            | (F.col("id_t") < F.col("id_s"))
        )
        .select(
            F.least(F.col("id_s"), F.col("id_t")).alias("id_a"),
            F.greatest(F.col("id_s"), F.col("id_t")).alias("id_b"),
            F.col("__ts").alias("__a"),
            F.col("__tt").alias("__b"),
        )
        .distinct()
    )

    # ---- short bucket: shorter side < m chars — pigeonhole needs
    # nonempty segments; pair them against everything within the
    # length window (bounded: both sides shorter than m + k chars)
    tiny = base.filter(F.col("__l") < m)
    near_tiny = base.filter(F.col("__l") < m + k)
    x_first = F.col("x.__id") < F.col("y.__id")
    cand_short = (
        tiny.alias("x")
        .join(
            near_tiny.alias("y"),
            (F.col("x.__id") != F.col("y.__id"))
            & (
                F.abs(F.col("x.__l") - F.col("y.__l")) <= k
            ),
        )
        .select(
            F.least(F.col("x.__id"), F.col("y.__id")).alias("id_a"),
            F.greatest(F.col("x.__id"), F.col("y.__id")).alias("id_b"),
            F.when(x_first, F.col("x.__t")).otherwise(F.col("y.__t")).alias(
                "__a"
            ),
            F.when(x_first, F.col("y.__t")).otherwise(F.col("x.__t")).alias(
                "__b"
            ),
        )
        .distinct()
    )
    cand = cand_long.unionByName(cand_short)
    d = F.levenshtein(F.col("__a"), F.col("__b"), k)
    return cand.select("id_a", "id_b", d.alias("dist")).filter(
        F.col("dist") >= 0
    )


def edit_distance_overflow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 2,
    max_postings_per_segment: int = 1024,
) -> DataFrame:
    """Report the (segment_index, length, segment_text) index keys
    :func:`edit_distance_pairs` drops at ``max_postings_per_segment``
    — the boundedness-audit companion in the posting-cap
    discipline. Non-empty output means boilerplate floods share
    verbatim segments; dedup exact clones first or raise the cap."""
    k = max_dist
    m = k + 1
    long_side = df.select(
        F.col(text_col).alias("__t"), F.length(text_col).alias("lt")
    ).filter(F.col("__t").isNotNull() & (F.col("lt") >= m))
    idx = long_side.select(
        "__t", "lt", F.explode(F.sequence(F.lit(0), F.lit(k))).alias("i")
    )
    st, sl = _passjoin_seg(F.col("lt"), F.col("i"), k)
    return (
        idx.select(
            "i",
            "lt",
            F.substring(
                F.col("__t"), (st + 1).cast("int"), sl.cast("int")
            ).alias("seg"),
        )
        .groupBy("i", "lt", "seg")
        .agg(F.count(F.lit(1)).alias("n_postings"))
        .filter(F.col("n_postings") > max_postings_per_segment)
    )
