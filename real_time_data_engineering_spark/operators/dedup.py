"""Deduplication operators — exact through fuzzy, designed for 100 TB.

Strategy ladder (cheapest first):

1. **Exact** — fingerprint (md5 of the normal form) + hash-groupBy.
   One shuffle on the fingerprint; AQE handles skew. O(N).
2. **MinHash + LSH** — k min-hashes per document from word shingles,
   banded into buckets; only documents sharing a band bucket are
   candidate pairs. Shuffles scale with N·k, never N².
3. **SimHash** — 64-bit (xxhash64 bit votes) locality hash; near-dups
   differ in few bits. Grouping by signature (or banded sub-keys) finds
   clusters without pairwise work.
4. **N-gram Jaccard verify** — exact similarity, used to confirm the
   candidates produced by 2/3 (the classic candidate→verify split: the
   quadratic step only ever runs on the candidate set).

The md5-based hashing used in the parity-checked paths is deliberately
engine-agnostic (DuckDB mirrors it string-for-string); the xxhash64
variants are the faster production path where cross-engine parity is
not required.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint, normalize_text, tokens, word_ngrams_tokens
from ..sources.readers import ensure_min_partitions

# Driver union-find tier for connected components: when the
# (checkpointed) edge set is provably driver-small, ONE bounded collect
# + an in-memory union-find replaces the whole iterative round loop
# (each round of which costs joins + exchanges + a checkpoint + a
# convergence probe). Bound is in BYTES of the edge payload — measured
# on the materialized edge relation before collecting, so the decision
# never guesses — mirroring similarity.DIRECT_STATS_BOUND's
# bounded-collect + distributed-fallback pattern. 4 MiB (~10^5 edges)
# sits under the measured crossover: at the r11 10x replica's
# ~megabyte clique-heavy edge set the distributed star path already
# beat the driver tier (10.75 s vs 20.6 s p50 — a row-based collect +
# pure-Python union-find lose to 32 cores well before driver memory is
# at risk), while bench/oracle-scale edge sets (tens of KB) stay on
# the two-job driver path. Module-level so tests can force either path
# and assert identical output.
DIRECT_EDGE_BOUND = 4 * 1024 * 1024


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup groups: fingerprint → keeper (min id) + copy count.

    Reference analogue: the W1 keep-one-per-natural-key dedup
    (flink/sql/06-silver.sql:42-58) generalized to content hashing.
    """
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


def dedup_keep_first(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Return the surviving rows (smallest id per fingerprint)."""
    w = Window.partitionBy(fingerprint(text_col)).orderBy(F.col(id_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def shingle_exploded(df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, shingle) pairs — the input relation for Jaccard/MinHash.

    Tokenization is materialized as its own projection so the n-gram
    lambda sees an attribute (cheap per-element read), not an inlined
    split() re-run per gram — Catalyst's CollapseProject keeps the
    boundary because the token array is referenced more than once and
    isn't cheap to duplicate.
    """
    toked = ensure_min_partitions(df).select(F.col(id_col), tokens(text_col).alias("_toks"))
    return toked.select(
        F.col(id_col), F.explode(word_ngrams_tokens(F.col("_toks"), n)).alias("shingle")
    )


def jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for every pair sharing ≥1 shingle.

    The shingle equi-join means cost scales with shingle collisions, not
    N² — and Catalyst shuffles both sides on `shingle`, so at scale this
    is one co-partitioned join plus one pair-keyed aggregation.

    A shingle shared by f docs costs f(f-1)/2 join rows, so ubiquitous
    phrases ("all rights reserved") dominate quadratically: pass
    ``max_doc_freq`` to drop shingles seen in more than that many docs
    before pairing (the same stop-gram cap as
    ``fingerprint_neardup_pairs``). Dropped shingles leave BOTH the
    join and the per-doc sizes, so jaccard stays a true Jaccard over
    the surviving shingle sets. Default None = exact semantics.
    """
    sh = shingle_exploded(df, n, text_col, id_col)
    if max_doc_freq is not None:
        # count-over-window shares the shingle-key shuffle the pair
        # join below needs anyway (same mechanism as the winnowing cap)
        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("_df", F.count("*").over(w))
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    # reused by sizes + both join sides; DISK_ONLY because the exploded
    # shingle relation is corpus-sized x n-grams — an uncapped
    # MEMORY_AND_DISK cache of it is executor memory pressure at scale
    sh = sh.persist(StorageLevel.DISK_ONLY)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .agg(F.count("*").alias("n_common"))
    )
    s1 = sizes.select(F.col(id_col).alias("d1"), F.col("n_shingles").alias("s1"))
    s2 = sizes.select(F.col(id_col).alias("d2"), F.col("n_shingles").alias("s2"))
    return (
        common.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("s1") + F.col("s2") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


def jaccard_pairs_canonical(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """`jaccard_pairs`, but the heavy shingle self-join runs on DISTINCT
    normal forms only — identical result, duplication-proof plan.

    Equal fingerprints (whitespace-collapsed lowercase) imply identical
    token arrays, hence identical shingle sets: so score one
    representative per form and expand back to member pairs.
    With duplication factor k the shingle join shrinks k² in pair-work
    (the 10x-replica scale run went 100x: 37 s → the rep join of the
    base corpus) while the quadratic *output* (true duplicate pairs) is
    produced by cheap fp-key joins that TakeOrderedAndProject prunes.

    Pairs inside one form group score jaccard = 1.0 with n_common =
    |shingles(form)|; forms with zero shingles (< n tokens) pair with
    nothing, exactly like the direct formulation.
    """
    base = ensure_min_partitions(df).select(
        F.col(id_col), F.col(text_col), fingerprint(text_col).alias("_fp")
    )
    w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
    reps = (
        base.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col(id_col).alias("_rep"), F.col(text_col), "_fp")
        # The unrolled pair plan references the rep election ~9 times
        # with no common-subexpression reuse across join sides. The r10
        # dead end measured the EAGER localCheckpoint as a sf0.1 loss
        # (2.38→2.83 s); the r11 re-test settled it: at 10x replica
        # scale materializing once wins big (7.25→5.33 s p50, −26% —
        # the duplication factor makes the 9 recomputes real), and the
        # LAZY spill-backed persist (the repo's standard DISK_ONLY
        # policy, same as the shingle relation below) wins at BOTH
        # scales (same-session A/B at sf0.1: none 3.20 / eager-ckpt
        # 2.83 / persist 2.64 s p50) because it adds no up-front job —
        # the first consumer materializes it in-stage.
        .persist(StorageLevel.DISK_ONLY)
    )
    members = base.select("_fp", F.col(id_col))

    rep_pairs = jaccard_pairs(reps, n, text_col, "_rep", max_doc_freq=max_doc_freq)
    fp1 = reps.select(F.col("_rep").alias("d1"), F.col("_fp").alias("_fp1"))
    fp2 = reps.select(F.col("_rep").alias("d2"), F.col("_fp").alias("_fp2"))
    m1 = members.select(F.col("_fp").alias("_fp1"), F.col(id_col).alias("_id1"))
    m2 = members.select(F.col("_fp").alias("_fp2"), F.col(id_col).alias("_id2"))
    cross = (
        rep_pairs.join(fp1, "d1")
        .join(fp2, "d2")
        .join(m1, "_fp1")
        .join(m2, "_fp2")
        .select(
            F.least("_id1", "_id2").alias("d1"),
            F.greatest("_id1", "_id2").alias("d2"),
            "n_common",
            "jaccard",
        )
    )

    rep_shingles = shingle_exploded(reps, n, text_col, "_rep")
    if max_doc_freq is not None:
        # same surviving-set semantics as the rep join above, so the
        # intra-group n_common matches what cross-group pairs report
        wdf = Window.partitionBy("shingle")
        rep_shingles = (
            rep_shingles.withColumn("_df", F.count("*").over(wdf))
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    rep_sizes = rep_shingles.groupBy("_rep").agg(F.count("*").alias("n_common"))
    sized_groups = reps.join(rep_sizes, "_rep").select("_fp", "n_common")
    ix = members.select(F.col("_fp"), F.col(id_col).alias("_id1"))
    iy = members.select(F.col("_fp"), F.col(id_col).alias("_id2"))
    intra = (
        ix.join(iy, "_fp")
        .filter(F.col("_id1") < F.col("_id2"))
        .join(sized_groups, "_fp")
        .select(
            F.col("_id1").alias("d1"),
            F.col("_id2").alias("d2"),
            "n_common",
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


def minhash_signatures_wide(
    df: DataFrame, n: int = 3, k: int = 16, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """k-permutation MinHash over word shingles, engine-agnostic.

    Each "permutation" is md5(seed || '|' || shingle); the signature
    element is the lexicographic MIN of the 32-hex-char digests — order
    on fixed-width hex strings equals order on the underlying 128-bit
    integers, so this is a true min-hash and DuckDB can mirror it
    exactly.

    All k mins are computed in ONE aggregation over the exploded
    shingles (k agg columns, not k× exploded rows): a single shuffle
    keyed by document with map-side partial mins — the shape that holds
    at 100 TB, where k× row inflation would k× the shuffle.
    Output: wide (doc_id, sig_0..sig_{k-1}).
    """
    sh = shingle_exploded(df, n, text_col, id_col)
    aggs = [
        F.min(F.md5(F.concat_ws("|", F.lit(str(i)), F.col("shingle")))).alias(f"sig_{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_candidate_pairs(
    df: DataFrame,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    wide: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: k sigs → `bands` band-hashes; pairs sharing ≥1 band.

    Estimated Jaccard = fraction of equal signature positions. The band
    bucket join is the scale path: candidate generation is linear in
    documents × bands, and the verify step (exact Jaccard) only runs on
    survivors.
    """
    rows = k // bands
    # corpus-scaled reuse (N rows × k digests, read by the band join's
    # two sides + both signature joins) → DISK_ONLY per the repo cache
    # policy: spill-backed, never executor memory pressure. ``wide``
    # lets a caller that already shingled this corpus (the incremental
    # ingest plan shares ONE signature pass across within-shard pairs,
    # the index probe and the index append) skip the recompute.
    if wide is None:
        wide = minhash_signatures_wide(df, n, k, text_col, id_col).persist(
            StorageLevel.DISK_ONLY
        )
    # band_hash per band straight from the wide columns (no extra shuffle);
    # band index = floor(seed / rows) on both engines.
    stack_args = ", ".join(
        "{b}, md5(concat_ws('|', {cols}))".format(
            b=b, cols=", ".join(f"sig_{i}" for i in range(b * rows, (b + 1) * rows))
        )
        for b in range(bands)
    )
    banded = wide.select(
        F.col(id_col), F.expr(f"stack({bands}, {stack_args}) AS (band, band_hash)")
    )
    a, b_ = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .distinct()
    )
    # estimated Jaccard = fraction of equal signature positions — one
    # 16-term expression over the two wide rows, no per-seed join.
    s1 = wide.select(F.col(id_col).alias("d1"), *[F.col(f"sig_{i}").alias(f"a{i}") for i in range(k)])
    s2 = wide.select(F.col(id_col).alias("d2"), *[F.col(f"sig_{i}").alias(f"b{i}") for i in range(k)])
    matches = None
    for i in range(k):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .select("d1", "d2", (matches.cast("double") / F.lit(float(k))).alias("est_jaccard"))
    )


def minhash_incremental_pairs(
    df: DataFrame,
    new_col: str = "is_new",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedupe an incoming shard against the existing corpus (d24).

    The production "index once, probe per shard" flow a training-data
    pipeline runs on every ingest: rows where ``new_col`` is true are
    the incoming shard, the rest are the already-ingested corpus. Only
    NEW x OLD band-bucket collisions become candidates — new x new and
    old x old pairs are filtered AT the join, so candidate volume
    scales with shard_size x bands, never corpus². At 100 TB the old
    side's banded signatures are computed once and persisted (the same
    write-time-index pattern as ann_index.write_ivf_index) and each
    shard joins against that index; here both sides derive from one
    relation because the driver corpus is a single table.

    The flag rides the signature groupBy key (functionally dependent on
    the id, so the extra key is free) — no corpus-sized rejoin to
    recover it. Output: (new_id, old_id, est_jaccard).
    """
    rows = k // bands
    toked = ensure_min_partitions(df).select(
        F.col(id_col), F.col(new_col), tokens(text_col).alias("_toks")
    )
    sh = toked.select(
        F.col(id_col),
        F.col(new_col),
        F.explode(word_ngrams_tokens(F.col("_toks"), n)).alias("shingle"),
    )
    aggs = [
        F.min(F.md5(F.concat_ws("|", F.lit(str(i)), F.col("shingle")))).alias(f"sig_{i}")
        for i in range(k)
    ]
    # corpus-scaled, read by the band join + both signature joins →
    # DISK_ONLY per the repo cache policy
    wide = sh.groupBy(id_col, new_col).agg(*aggs).persist(StorageLevel.DISK_ONLY)
    stack_args = ", ".join(
        "{b}, md5(concat_ws('|', {cols}))".format(
            b=b, cols=", ".join(f"sig_{i}" for i in range(b * rows, (b + 1) * rows))
        )
        for b in range(bands)
    )
    banded = wide.select(
        F.col(id_col), F.col(new_col), F.expr(f"stack({bands}, {stack_args}) AS (band, band_hash)")
    )
    new_side = banded.filter(F.col(new_col)).alias("a")
    old_side = banded.filter(~F.col(new_col)).alias("b")
    cand = (
        new_side.join(
            old_side,
            (F.col("a.band") == F.col("b.band")) & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(F.col(f"a.{id_col}").alias("new_id"), F.col(f"b.{id_col}").alias("old_id"))
        .distinct()
    )
    s1 = wide.filter(F.col(new_col)).select(
        F.col(id_col).alias("new_id"), *[F.col(f"sig_{i}").alias(f"a{i}") for i in range(k)]
    )
    s2 = wide.filter(~F.col(new_col)).select(
        F.col(id_col).alias("old_id"), *[F.col(f"sig_{i}").alias(f"b{i}") for i in range(k)]
    )
    matches = None
    for i in range(k):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    return (
        cand.join(s1, "new_id")
        .join(s2, "old_id")
        .select(
            "new_id", "old_id", (matches.cast("double") / F.lit(float(k))).alias("est_jaccard")
        )
    )


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash via xxhash64 bit votes (fast production path).

    Per token: xxhash64 → 64 bit votes (+1/-1); signature bit j is the
    sign of the vote sum. Implemented as explode + groupBy — one shuffle
    keyed by doc, partial aggregation map-side. No cross-engine oracle
    (DuckDB lacks xxhash64); checked by property tests instead.
    """
    toks = ensure_min_partitions(df).select(F.col(id_col), F.explode(F.expr(f"split(lower(trim({text_col})), '\\\\s+')")).alias("tok"))
    h = toks.withColumn("h", F.xxhash64("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(64)
    ]
    agg = h.groupBy(id_col).agg(*votes)
    # shiftleft, not a Python 1<<j literal: bit 63 overflows a signed
    # LongType literal but shiftleft wraps correctly in the JVM.
    bit_terms = [
        F.when(F.col(f"b{j}") >= 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(F.lit(0).cast("long"))
        for j in range(64)
    ]
    expr = bit_terms[0]
    for t in bit_terms[1:]:
        expr = expr + t
    return agg.select(F.col(id_col), expr.alias("simhash"))


def simhash_hex(
    df: DataFrame, n_bits: int = 16, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Engine-agnostic SimHash (≤32 bits): one vote per md5 hex position.

    Dimension j's vote is +1 when hex digit j of md5(token) is ≥ '8'
    (i.e. the high bit of that nibble), -1 otherwise; the signature is
    an n_bits-char '0'/'1' string. DuckDB mirrors this with
    substr(md5(..)); md5's 32 hex digits cap n_bits at 32 — beyond
    that, `simhash64` (xxhash64 votes) is the production path.
    """
    if not 1 <= n_bits <= 32:
        raise ValueError(f"md5 supplies 32 hex vote positions, got n_bits={n_bits}")
    toks = ensure_min_partitions(df).select(F.col(id_col), F.explode(F.expr(f"split(lower(trim({text_col})), '\\\\s+')")).alias("tok"))
    h = toks.withColumn("h", F.md5("tok"))
    hi = tuple("89abcdef")
    votes = [
        F.sum(F.when(F.substring("h", j + 1, 1).isin(*hi), 1).otherwise(-1)).alias(f"b{j}")
        for j in range(n_bits)
    ]
    agg = h.groupBy(id_col).agg(*votes)
    return agg.select(
        F.col(id_col),
        F.concat(
            *[F.when(F.col(f"b{j}") >= 0, F.lit("1")).otherwise(F.lit("0")) for j in range(n_bits)]
        ).alias("simhash_bits"),
    )


def simhash16_hex(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """16-bit form of `simhash_hex` (d6's registered cross-engine shape)."""
    return simhash_hex(df, 16, text_col, id_col)


def simhash_int(
    df: DataFrame, n_bits: int = 32, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """`simhash_hex`'s votes packed into ONE integer signature
    (bit j = vote j ≥ 0): the join/verify form — block extraction is a
    shift-and-mask and Hamming distance is bit_count(xor), single
    integer ops instead of per-character string work."""
    if not 1 <= n_bits <= 32:
        raise ValueError(f"md5 supplies 32 hex vote positions, got n_bits={n_bits}")
    toks = ensure_min_partitions(df).select(F.col(id_col), F.explode(F.expr(f"split(lower(trim({text_col})), '\\\\s+')")).alias("tok"))
    h = toks.withColumn("h", F.md5("tok"))
    hi = tuple("89abcdef")
    votes = [
        F.sum(F.when(F.substring("h", j + 1, 1).isin(*hi), 1).otherwise(-1)).alias(f"b{j}")
        for j in range(n_bits)
    ]
    agg = h.groupBy(id_col).agg(*votes)
    sig = F.lit(0).cast("long")
    for j in range(n_bits):
        sig = sig + F.when(F.col(f"b{j}") >= 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 2,
    bands: int = 4,
    n_bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-duplicate pairs via block permutation (the pairing
    step of Charikar-style dedup, the mechanism behind web-scale
    near-dup crawl filtering): split each n_bits signature into
    ``bands`` contiguous blocks; any two docs agreeing on ≥1 block are
    candidates; verify with the exact Hamming distance.

    EXACT for ``max_hamming < bands`` by pigeonhole — a pair within
    that distance differs in fewer blocks than exist, so at least one
    block matches and the candidate join cannot miss it. The join is
    keyed on (band, block) — cardinality N·bands plus collision mass,
    never N²; at 100 TB the identical shape runs over `simhash64`
    with 16-bit blocks (4 blocks guarantee hamming ≤ 3 at 64 bits
    too — pigeonhole only counts blocks). Signature width is the
    selectivity lever: 16 bits saturates beyond a few hundred docs
    (every block bucket is dense), 32 bits keeps hamming ≤ 2 at ~1%
    of pairs on the reference corpus.

    All hot-path arithmetic is integer (blocks by shift-and-mask,
    Hamming by bit_count(xor)): the bit-string form of the same verify
    ran 64 substring comparisons per candidate and was ~10× slower on
    dense corpora.

    Returns (d1, d2, hamming), d1 < d2, hamming ≤ max_hamming.
    """
    sig = simhash_int(df, n_bits, text_col, id_col)
    return hamming_neardup_pairs(sig, max_hamming, bands, n_bits, id_col=id_col)


def hamming_neardup_pairs(
    sig: DataFrame,
    max_hamming: int = 2,
    bands: int = 4,
    n_bits: int = 32,
    sig_col: str = "simhash",
    id_col: str = "doc_id",
) -> DataFrame:
    """The block-permutation pairing core over ANY integer-signature
    frame (id_col, sig_col): this is what `simhash_neardup_pairs`
    composes with the md5-vote signature, and what the production
    64-bit path composes with `simhash64` (n_bits=64, 16-bit blocks —
    pigeonhole counts blocks, not bits, so 4 blocks still guarantee
    hamming < 4 recall). Same contract: EXACT for max_hamming < bands.
    """
    if max_hamming >= bands:
        raise ValueError(f"pigeonhole exactness needs max_hamming < bands, got {max_hamming} >= {bands}")
    if n_bits % bands:
        raise ValueError(f"bands must divide n_bits, got {n_bits} % {bands}")
    width = n_bits // bands
    mask = (1 << width) - 1
    sig = sig.select(F.col(id_col), F.col(sig_col).alias("simhash"))
    banded = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("block"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), "simhash", F.col("bb.band").alias("band"), F.col("bb.block").alias("block"))
    a = banded.select(F.col(id_col).alias("d1"), F.col("simhash").alias("sig1"), "band", "block")
    b = banded.select(F.col(id_col).alias("d2"), F.col("simhash").alias("sig2"), "band", "block")
    # signatures are functionally dependent on the ids, so the distinct
    # on all four columns dedups band collisions without a join-back
    cand = (
        a.join(b, ["band", "block"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "sig1", "sig2")
        .distinct()
    )
    ham = F.bit_count(F.col("sig1").bitwiseXOR(F.col("sig2"))).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def winnow_fingerprints(
    df: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rolling character-k-gram fingerprint set (mod-p selection).

    Every k-char window of the normalized text is hashed; a window is
    *selected* when its hash's first hex nibble is 0 (i.e. hash mod 16
    == 0) — the classic "0 mod p" document-fingerprinting scheme
    (winnowing family): position-independent, so any shared run of ≥ k
    chars between two documents yields shared selected hashes with
    probability 1/16 per window. The whole selection is one narrow
    per-row projection (no shuffle, no UDF); output is the exploded
    inverted-index form (doc_id, fp_hash), distinct per doc.
    """
    # Materialize the normal form first: captured inside the transform
    # lambda, the regexp would be re-evaluated per window position.
    base = ensure_min_partitions(df).select(F.col(id_col), normalize_text(text_col).alias("_norm"))
    norm = F.col("_norm")
    grams = F.transform(
        F.sequence(F.lit(1), F.length(norm) - (k - 1)),
        lambda i: F.md5(norm.substr(i, F.lit(k))),
    )
    sel = F.array_distinct(F.filter(grams, lambda h: h.startswith("0")))
    guarded = F.when(F.length(norm) >= k, sel).otherwise(F.array().cast("array<string>"))
    return base.select(F.col(id_col), F.explode(guarded).alias("fp_hash"))


def fingerprint_neardup_pairs(
    df: DataFrame,
    k: int = 8,
    min_resemblance: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs via shared winnowed fingerprints (inverted index).

    Self-join on fp_hash → shared-count per pair → resemblance =
    |A∩B| / |A∪B| over the *selected* sets. The join is keyed on the
    hash (cardinality ~N·len/16/k), never N² — the scalable copy-
    detection shape. At 100 TB, stop-gram skew (a hash present in a
    large fraction of docs) is the hazard: pass ``max_doc_freq`` to
    drop hashes seen in more than that many documents before pairing
    (standard stop-shingle removal; AQE skew-join covers the rest).
    """
    sel = winnow_fingerprints(df, k, text_col, id_col)
    if max_doc_freq is not None:
        # count-over-window, not groupBy+self-join: one shuffle on
        # fp_hash (which the pair join below then reuses — same key),
        # and the explode isn't recomputed for a frequency side.
        w = Window.partitionBy("fp_hash")
        sel = (
            sel.withColumn("_df", F.count("*").over(w))
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    # same policy as jaccard_pairs: spill-only reuse of the exploded
    # fingerprint relation, never executor memory
    sel = sel.persist(StorageLevel.DISK_ONLY)
    sizes = sel.groupBy(id_col).agg(F.count("*").alias("n_sel"))
    a = sel.select(F.col(id_col).alias("d1"), "fp_hash")
    b = sel.select(F.col(id_col).alias("d2"), "fp_hash")
    shared = (
        a.join(b, "fp_hash")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("shared"))
    )
    s1 = sizes.select(F.col(id_col).alias("d1"), F.col("n_sel").alias("n1"))
    s2 = sizes.select(F.col(id_col).alias("d2"), F.col("n_sel").alias("n2"))
    res = F.col("shared").cast("double") / (F.col("n1") + F.col("n2") - F.col("shared")).cast("double")
    return (
        shared.join(s1, "d1")
        .join(s2, "d2")
        .select("d1", "d2", "shared", res.alias("resemblance"))
        .filter(F.col("resemblance") >= F.lit(min_resemblance))
    )


def _cc_driver_union_find(edges: DataFrame) -> DataFrame:
    """Bounded-collect tier of `connected_components`: union-find over
    the (symmetric, distinct, checkpointed) edge relation, returning the
    identical (node, cluster_id = component min, cluster_size) contract
    with the identical schema (node/cluster_id keep the edge column
    type, cluster_size is long — matching the distributed path's
    count)."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in edges.collect():
        s, t = row[0], row[1]
        if s not in parent:
            parent[s] = s
        if t not in parent:
            parent[t] = t
        rs, rt = find(s), find(t)
        if rs != rt:
            parent[rs] = rt
    comps: dict = {}
    for node in parent:
        comps.setdefault(find(node), []).append(node)
    out = []
    for members in comps.values():
        label = min(members)
        size = len(members)
        out.extend((node, label, size) for node in members)
    node_t = edges.schema["s"].dataType
    schema = T.StructType(
        [
            T.StructField("node", node_t),
            T.StructField("cluster_id", node_t),
            T.StructField("cluster_size", T.LongType()),
        ]
    )
    return edges.sparkSession.createDataFrame(out, schema)


def connected_components(
    pairs: DataFrame, src: str = "d1", dst: str = "d2", max_iter: int = 20
) -> DataFrame:
    """Transitive dup-cluster resolution: undirected connected components
    over a near-dup pair set → (node, cluster_id, cluster_size), where
    cluster_id = min node id in the component. Singletons (nodes in no
    pair) are not rows here — join back to the corpus for them.

    Two tiers, gated by the MEASURED byte size of the materialized edge
    set (r11; the r10 ``DIRECT_STATS_BOUND`` pattern):

    * under ``DIRECT_EDGE_BOUND``: one bounded collect feeds a
      driver-side union-find computing the (node, min-of-component,
      size) fixpoint directly — identical output by construction
      (component membership is join-order independent; Python's min
      over int/str orders exactly like Spark's MIN: numeric, and UTF-8
      binary order == code-point order for strings). At bench scale
      this replaces ~8 rounds × (join + exchange + checkpoint + probe)
      with two jobs (d15: 105 → 13 jobs per run).
    * past the bound: `connected_components_star` (large-star/
      small-star, O(log n) rounds regardless of diameter) over the
      already-materialized edges. Adopted over the previous min-label
      propagation on the r11 10x-replica measurement — star 10.75 s vs
      min-label 19.3 s p50 on a ~megabyte clique-heavy edge set, with
      set-identical output (also pinned by tests/test_fuzzy_ops.py's
      equivalence + deep-chain tests).
    """
    edges = (
        pairs.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .unionByName(pairs.select(F.col(dst).alias("s"), F.col(src).alias("t")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # byte-measured gate over the ALREADY-materialized relation (one
    # cheap agg job; octet_length of the string rendering upper-bounds
    # the in-driver footprint for both numeric and string ids)
    probe = edges.agg(
        F.sum(
            F.octet_length(F.col("s").cast("string"))
            + F.octet_length(F.col("t").cast("string"))
        ).alias("b"),
    ).first()
    if (probe["b"] or 0) <= DIRECT_EDGE_BOUND:
        return _cc_driver_union_find(edges)
    # the symmetric set restricted to s < t IS the canonical undirected
    # edge set star starts from (its own least/greatest/distinct pass
    # then runs over an already-checkpointed, already-distinct relation)
    return connected_components_star(
        edges.filter(F.col("s") < F.col("t")), src="s", dst="t", max_iter=max_iter
    )


def connected_components_star(
    pairs: DataFrame, src: str = "d1", dst: str = "d2", max_iter: int = 25
) -> DataFrame:
    """`connected_components` via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the deep-graph form: O(log n) rounds regardless of component
    diameter, vs. diameter rounds for plain min-label propagation.
    Same output contract: (node, cluster_id = component min,
    cluster_size); singletons (no pair) absent, join corpus for them.

    Each round is two groupBy-min + join steps over the edge set:

    * large-star: every node points its LARGER neighbors at
      m = min(neighborhood ∪ self);
    * small-star: every node points its smaller-or-self neighbors at m.

    Components contract toward stars rooted at their min; fixpoint when
    the canonical edge set stops changing (O(1) probe: count + an
    order-insensitive xxhash64 XOR — exact set equality would cost
    another shuffle, and XOR can't overflow under ANSI mode).
    """
    # canonical undirected edge set (lo, hi), no self-loops
    canon = (
        pairs.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sym(c: DataFrame) -> DataFrame:
        return c.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
            c.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )

    def _mins(sym: DataFrame) -> DataFrame:
        return sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))

    def _fingerprint(c: DataFrame):
        row = c.agg(
            F.count("*").alias("n"), F.bit_xor(F.xxhash64("lo", "hi")).alias("h")
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _fingerprint(canon)
    for _ in range(max_iter):
        # large-star
        sym = _sym(canon)
        mins = _mins(sym)
        big = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.least("v", "m").alias("lo"), F.greatest("v", "m").alias("hi"))
        )
        canon = big.filter(F.col("lo") != F.col("hi")).distinct().localCheckpoint(eager=True)
        # small-star
        sym = _sym(canon)
        mins = _mins(sym)
        small = (
            sym.join(mins, "u")
            .filter(F.col("v") < F.col("u"))
            .select(F.least("v", "m").alias("lo"), F.greatest("v", "m").alias("hi"))
            .unionByName(
                mins.select(F.least("u", "m").alias("lo"), F.greatest("u", "m").alias("hi"))
            )
        )
        canon = small.filter(F.col("lo") != F.col("hi")).distinct().localCheckpoint(eager=True)
        cur = _fingerprint(canon)
        if cur == prev:
            break
        prev = cur
    labels = _mins(_sym(canon)).select(F.col("u").alias("node"), F.col("m").alias("label"))
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        "node", F.col("label").alias("cluster_id"), "cluster_size"
    )


# ---------------------------------------------------------------------------
# Incremental exact dedup — persisted fingerprint REGISTRY.
#
# The 100 TB shape of rung 1: once a corpus is ingested, "is this new
# document a duplicate of ANYTHING we have ever kept?" must not re-read
# the corpus text. The registry persists one ~50-byte row per distinct
# fingerprint as a ManifestTable of APPEND-ONLY DELTA rows
# (fingerprint, keeper, n): keeper is MIN-associative and n is
# SUM-associative, so per-shard appends commute — base + any append
# sequence reads identically to the all-at-once build (the
# `_centroid_deltas` pattern, cf. `append_to_lexical_index`), and a
# CAS-append race can never lose an update. `cluster_by=["fingerprint"]`
# range-lays the files so `read_any_of` point probes ("seen before?")
# open only the files whose stats admit the key.
#
# Reference analogue: the reference's W1 keep-one dedup is a per-batch
# window (flink/sql/06-silver.sql:42-58); the registry is its
# cross-ingestion generalization.
# ---------------------------------------------------------------------------

_FP_TABLE = "_fingerprints"


def fingerprint_deltas(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One shard's delta rows: (fingerprint, keeper, n). One shuffle
    keyed on the fingerprint; map-side combine collapses each partition
    to its distinct fingerprints before the exchange."""
    return (
        df.select(F.col(id_col).alias("keeper"), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("keeper").alias("keeper"), F.count("*").cast("long").alias("n"))
    )


def write_fingerprint_registry(
    df: DataFrame, path: str, text_col: str = "text", id_col: str = "doc_id",
    n_files: int | None = None,
) -> None:
    """Persist the base corpus's registry (overwrite)."""
    import os

    from .manifest import ManifestTable

    ManifestTable(os.path.join(path, _FP_TABLE)).write(
        fingerprint_deltas(df, text_col, id_col),
        mode="overwrite", cluster_by=["fingerprint"], n_files=n_files,
    )


def append_fingerprint_registry(
    df: DataFrame, path: str, text_col: str = "text", id_col: str = "doc_id",
    max_attempts: int = 5, n_files: int | None = None,
) -> None:
    """CAS-append one ingested shard's fingerprint deltas."""
    import os

    from .manifest import ManifestTable

    ManifestTable(os.path.join(path, _FP_TABLE)).append_with_retry(
        fingerprint_deltas(df, text_col, id_col),
        max_attempts=max_attempts, cluster_by=["fingerprint"], n_files=n_files,
    )


def read_fingerprint_registry(spark, path: str) -> DataFrame:
    """The merged registry: delta rows re-aggregated to one
    (fingerprint, keeper, n_copies) row per distinct fingerprint.
    MIN/SUM over deltas — associative, so any append order reads the
    same."""
    import os

    from .manifest import ManifestTable

    return (
        ManifestTable(os.path.join(path, _FP_TABLE))
        .read(spark)
        .groupBy("fingerprint")
        .agg(F.min("keeper").alias("keeper"), F.sum("n").cast("long").alias("n_copies"))
    )


def incremental_exact_dedup(
    shard: DataFrame, registry: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Classify a NEW shard against the persisted registry without
    touching corpus text: per shard doc —

    * ``dup_of_corpus`` — fingerprint already registered; keeper is the
      registry's (first-ingested-wins: the corpus keeper stands even if
      the shard doc's id is smaller — incremental semantics, not a
      global re-rank).
    * ``new``          — first occurrence anywhere; keeps itself.
    * ``dup_in_shard`` — unseen by the corpus but a smaller-id shard
      doc has the same content; keeps the shard minimum.

    Work: one fingerprint projection over the SHARD only + two joins
    keyed on the fingerprint (registry side is (fp, keeper) — tiny
    relative to text). Deterministic: ties break on min id at every
    level."""
    fp = shard.select(F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("fingerprint"))
    smin = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("_shard_keeper"))
    reg = registry.select("fingerprint", F.col("keeper").alias("_corpus_keeper"))
    return (
        fp.join(smin, "fingerprint")
        .join(reg, "fingerprint", "left")
        .select(
            "doc_id",
            "fingerprint",
            F.when(F.col("_corpus_keeper").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("doc_id") == F.col("_shard_keeper"), F.lit("new"))
            .otherwise(F.lit("dup_in_shard"))
            .alias("status"),
            F.coalesce("_corpus_keeper", "_shard_keeper").alias("keeper_id"),
        )
    )


# ---------------------------------------------------------------------------
# Persisted MinHash-LSH index — rung 2 of the ladder as lakehouse state
# (the fuzzy sibling of the fingerprint registry above; exact → d45's
# registry, embedding → ann_index's IVF-PQ appends; this closes the
# set). Two ManifestTables:
#
# * ``_bands`` — (doc_id, band, band_hash), cluster_by=["band_hash"]
#   so a shard probe's bucket join reads band-hash-localized files and
#   any point lookup ("which docs collide with THIS bucket?") is
#   stats-pruned.
# * ``_sigs``  — the wide (doc_id, sig_0..sig_{k-1}) signatures,
#   cluster_by=["doc_id"], joined only against candidate old ids for
#   the verify step.
#
# Both relations are plain per-doc rows, so shard appends over disjoint
# doc sets compose trivially (base+appends ≡ all-at-once — no
# aggregation at read, unlike the delta tables) and the corpus text is
# never re-shingled after its one indexing pass.
# ---------------------------------------------------------------------------

_MH_BANDS = "_bands"
_MH_SIGS = "_sigs"


def _banded(wide: DataFrame, k: int, bands: int, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, band, band_hash) from wide signatures — band_hash =
    md5 of the '|'-joined row digests, the d5/d24 chain."""
    rows = k // bands
    stack_args = ", ".join(
        "{b}, md5(concat_ws('|', {cols}))".format(
            b=b, cols=", ".join(f"sig_{i}" for i in range(b * rows, (b + 1) * rows))
        )
        for b in range(bands)
    )
    return wide.select(
        F.col(id_col), F.expr(f"stack({bands}, {stack_args}) AS (band, band_hash)")
    )


def _minhash_index_parts(
    df: DataFrame, n: int, k: int, bands: int, text_col: str, id_col: str
):
    wide = minhash_signatures_wide(df, n, k, text_col, id_col).persist(
        StorageLevel.DISK_ONLY
    )
    return _banded(wide, k, bands, id_col), wide


def write_minhash_index(
    df: DataFrame, path: str, n: int = 3, k: int = 16, bands: int = 4,
    text_col: str = "text", id_col: str = "doc_id", n_files: int | None = None,
    skip_if_current: bool = False,
) -> None:
    """Shingle+sign the base corpus ONCE, persist bands + signatures.

    ``skip_if_current=True``: the `operators.freshness` idempotency
    protocol — signatures are deterministic in (corpus, n, k, bands),
    so a stamped index whose parameters and corpus fingerprint match
    is value-identical to the rebuild it skips. The stamp drops first
    on a real build and on every append."""
    import os

    from .freshness import BuildStamp
    from .manifest import ManifestTable

    stamp = BuildStamp(
        df.sparkSession,
        path,
        {"n": n, "k": k, "bands": bands, "n_files": n_files, "kind": "minhash"},
        df,
        (id_col, text_col),
    )
    if skip_if_current and stamp.is_current():
        return
    stamp.invalidate()
    banded, wide = _minhash_index_parts(df, n, k, bands, text_col, id_col)
    ManifestTable(os.path.join(path, _MH_BANDS)).write(
        banded, mode="overwrite", cluster_by=["band_hash"], n_files=n_files
    )
    ManifestTable(os.path.join(path, _MH_SIGS)).write(
        wide, mode="overwrite", cluster_by=[id_col], n_files=n_files
    )
    wide.unpersist()
    if skip_if_current:
        stamp.write()  # last: artifacts are all committed above


def append_minhash_index(
    df: DataFrame, path: str, n: int = 3, k: int = 16, bands: int = 4,
    text_col: str = "text", id_col: str = "doc_id", max_attempts: int = 5,
    n_files: int | None = None, parts=None,
) -> None:
    """CAS-append one ingested shard's bands + signatures (per-doc rows
    over disjoint doc sets — order-independent by construction)."""
    import os

    from .freshness import invalidate_stamp
    from .manifest import ManifestTable

    # the appended index serves MORE than any stamped corpus — drop the
    # idempotency stamp before mutating (the freshness protocol)
    invalidate_stamp(path)
    banded, wide = parts if parts is not None else _minhash_index_parts(
        df, n, k, bands, text_col, id_col
    )
    ManifestTable(os.path.join(path, _MH_BANDS)).append_with_retry(
        banded, max_attempts=max_attempts, cluster_by=["band_hash"], n_files=n_files
    )
    ManifestTable(os.path.join(path, _MH_SIGS)).append_with_retry(
        wide, max_attempts=max_attempts, cluster_by=[id_col], n_files=n_files
    )
    if parts is None:
        wide.unpersist()


def minhash_index_probe(
    spark, shard: DataFrame, path: str, n: int = 3, k: int = 16, bands: int = 4,
    text_col: str = "text", id_col: str = "doc_id", parts=None,
) -> DataFrame:
    """Near-dup a NEW shard against the persisted index: only the shard
    is shingled; candidates come from the band-bucket join against the
    persisted ``_bands`` (one shuffle keyed on (band, band_hash), cost
    ~ shard × bands); the verify step joins the persisted wide
    signatures for candidate old ids only. Output (new_id, old_id,
    est_jaccard) — bit-identical to `minhash_incremental_pairs` over
    the same corpus split (shared signature/band chains,
    equivalence-tested)."""
    import os

    from .manifest import ManifestTable

    sh_banded, sh_wide = parts if parts is not None else _minhash_index_parts(
        shard, n, k, bands, text_col, id_col
    )
    old_bands = (
        ManifestTable(os.path.join(path, _MH_BANDS))
        .read(spark)
        .select(F.col(id_col).alias("old_id"), "band", "band_hash")
    )
    cand = (
        sh_banded.select(F.col(id_col).alias("new_id"), "band", "band_hash")
        .join(old_bands, ["band", "band_hash"])
        .select("new_id", "old_id")
        .distinct()
    )
    s1 = sh_wide.select(
        F.col(id_col).alias("new_id"), *[F.col(f"sig_{i}").alias(f"a{i}") for i in range(k)]
    )
    s2 = (
        ManifestTable(os.path.join(path, _MH_SIGS))
        .read(spark)
        .select(
            F.col(id_col).alias("old_id"),
            *[F.col(f"sig_{i}").alias(f"b{i}") for i in range(k)],
        )
    )
    matches = None
    for i in range(k):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    return (
        cand.join(s1, "new_id")
        .join(s2, "old_id")
        .select(
            "new_id", "old_id",
            (matches.cast("double") / F.lit(float(k))).alias("est_jaccard"),
        )
    )


def forget_fingerprint_registry(
    spark, path: str, doc_ids: list, physical: bool = False
) -> None:
    """Erase retained documents from the persisted fingerprint registry
    (GDPR right-to-be-forgotten over rung-1 derived state).

    The registry tracks RETAINED content: a fingerprint row means "this
    content lives in the curated corpus under `keeper`". Only keepers
    were ever retained — later copies were classified dups and dropped
    at their own ingest. So erasing a retained doc means the content is
    gone from the corpus, and the correct state transition is to delete
    EVERY delta row of that doc's fingerprint (the fingerprint itself is
    derived from the erased content; keeping it — or its seen-count —
    would retain a content-derived identifier past erasure). A later
    ingest of identical content then classifies ``new`` and is retained
    afresh — exactly what a rebuilt-from-survivors registry would say.

    Ids that were never keepers (dups never retained) have no registry
    row keyed to them and are a no-op here — their per-doc rows live in
    the other index surfaces. Cost: one registry aggregation to find
    the doomed fingerprints + one stats-pruned in-list delete;
    ``physical=True`` compacts/expires/vacuums so no parquet file under
    the registry still contains a doomed row."""
    import os

    from .manifest import ManifestTable

    ids = sorted(set(doc_ids))
    if not ids:
        return
    t = ManifestTable(os.path.join(path, _FP_TABLE))
    doomed = sorted(
        r["fingerprint"]
        for r in read_fingerprint_registry(spark, path)
        .filter(F.col("keeper").isin(ids))
        .select("fingerprint")
        .collect()
    )
    if doomed:
        t.delete_where(spark, [("fingerprint", "in", doomed)], merge_on_read=True)
    if physical:
        t.compact(spark, cluster_by=["fingerprint"])
        t.expire(keep_last=1)
        t.vacuum(older_than_s=0.0)


def forget_from_minhash_index(
    spark, path: str, doc_ids: list, id_col: str = "doc_id", physical: bool = False
) -> None:
    """Erase documents from the persisted MinHash-LSH index: bands and
    signatures are plain per-doc rows, so an ``in``-list merge-on-read
    delete over both tables makes every later probe behave EXACTLY like
    an index built from the surviving corpus (per-doc rows carry no
    cross-doc state — equivalence-tested). The signatures ARE derived
    personal data (content hashes), so ``physical=True`` compacts,
    expires and vacuums both tables to the on-disk guarantee."""
    import os

    from .freshness import invalidate_stamp
    from .manifest import ManifestTable

    ids = sorted(set(doc_ids))
    if not ids:
        return
    # the forgotten index serves LESS than any stamped corpus
    invalidate_stamp(path)
    bands_t = ManifestTable(os.path.join(path, _MH_BANDS))
    sigs_t = ManifestTable(os.path.join(path, _MH_SIGS))
    bands_t.delete_where(spark, [(id_col, "in", ids)], merge_on_read=True)
    sigs_t.delete_where(spark, [(id_col, "in", ids)], merge_on_read=True)
    if physical:
        for t, cl in ((bands_t, ["band_hash"]), (sigs_t, [id_col])):
            t.compact(spark, cluster_by=cl)
            t.expire(keep_last=1)
            t.vacuum(older_than_s=0.0)
