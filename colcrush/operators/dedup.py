"""Deduplication operators for web-scale training-data pipelines.

Beyond the reference's surface (SURVEY.md mandate): exact dedup,
MinHash+LSH near-dup, SimHash near-dup, n-gram Jaccard — all as
compositions of built-in DataFrame ops (explode / groupBy / join) so
Catalyst plans the shuffles; no per-row Python anywhere.

Scale notes (100 TB):
- exact dedup shuffles a 32-byte sha, never the content;
- MinHash banding turns all-pairs O(n^2) into per-bucket candidate
  joins; band buckets are hash-partitioned and AQE splits skewed ones;
- verification joins rejoin content only for candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, keep: str = "min"
) -> DataFrame:
    """Keep one row per distinct text (content-hash grouped).

    Returns the deduplicated rows of ``df``. Shuffles only
    (sha256, id) pairs, then semi-joins the keepers back.
    """
    agg = F.min(F.col(id_col)) if keep == "min" else F.max(F.col(id_col))
    keepers = (
        df.select(F.sha2(F.col(text_col), 256).alias("_h"), F.col(id_col))
        .groupBy("_h")
        .agg(agg.alias(id_col))
        .select(id_col)
    )
    return df.join(keepers, on=id_col, how="left_semi")


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(keeper id, dup count) per distinct text — dedup lineage report."""
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("text_sha"), F.col(id_col))
        .groupBy("text_sha")
        .agg(
            F.min(id_col).alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingle_hashes(text_col: str, n: int) -> F.Column:
    """Distinct word n-gram shingles as an array<long> of xxhash64
    values — the scale representation: no shingle STRING is ever
    materialized (the round-1 array_join per window dominated the
    minhash bench), and everything downstream (signatures, inverted
    index, exact-Jaccard verify) moves 8-byte longs. The variadic
    xxhash64 keeps token boundaries, so distinct hash sets biject
    distinct string-shingle sets (modulo 64-bit collisions), and
    Jaccard values computed on either representation agree. The token
    array is scope-bound via a 1-element-array transform so Catalyst
    evaluates split() once, not once per shingle."""
    toks = F.split(F.col(text_col), " ")
    if n == 1:
        return F.array_distinct(F.transform(toks, lambda t: F.xxhash64(t)))

    def mk(ts: F.Column) -> F.Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(ts) - n, F.lit(0)))
        return F.array_distinct(
            F.transform(
                idx,
                lambda i: F.xxhash64(
                    *[F.element_at(ts, i + j + 1) for j in range(n)]
                ),
            )
        )

    return F.element_at(F.transform(F.array(toks), mk), 1)


def minhash_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidates.
    Returns distinct (a, b) with a < b.

    One posexplode (NOT a bands-way union: each union branch would
    re-evaluate the whole signature plan) -> self-equi-join on
    (band, bucket hash) that Catalyst shuffles once per side. The band
    hash array is one SQL string: one py4j call, not one per node."""
    hashes = [
        "hash({})".format(
            ", ".join(f"sig[{b * rows_per_band + r}]" for r in range(rows_per_band))
        )
        for b in range(bands)
    ]
    buckets = sigs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.expr(f"array({', '.join(hashes)})")).alias("_band", "_bh"),
    )
    l = buckets.alias("l")
    r = buckets.alias("r")
    return (
        l.join(
            r,
            (F.col("l._band") == F.col("r._band"))
            & (F.col("l._bh") == F.col("r._bh"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    shingle_n: int = 3,
    bands: int = 16,
    exact_verify: bool = False,
) -> DataFrame:
    """Near-duplicate pairs (a, b, jaccard) with Jaccard >= threshold:
    MinHash -> LSH banding -> verification.

    ``exact_verify=False``: the signature agreement fraction is the
    (cheap, approximate) Jaccard estimate. ``exact_verify=True``:
    candidates are re-verified with the EXACT Jaccard of the distinct
    shingle sets (array_intersect on xxhash64'd shingles — longs, so
    no multi-KB strings cross the verify join). Exact verification
    makes the result oracle-checkable: it equals the all-pairs exact
    Jaccard >= threshold result wherever LSH recall is 1 (the banding
    parameters are chosen so misses at the threshold are ~1e-4)."""
    rows_per_band = num_hashes // bands
    # materialize the (hashed) shingle sets once: they feed the
    # signature aggregation AND (under exact_verify) the verification
    # join — without this the whole shingle plan would re-run per
    # branch. Longs only: no shingle string survives past the split.
    sets = df.select(
        F.col(id_col),
        _shingle_hashes(text_col, shingle_n).alias("_hs"),
    ).localCheckpoint(eager=False)
    # explode shingles once, then num_hashes min-aggregates: whole-stage
    # codegen'd, map-side partial aggregation, and no per-(doc,seed)
    # array allocation (a higher-order-function formulation was ~10x
    # slower). The aggregates and their array are one SQL string.
    inv = sets.select(F.col(id_col), F.explode("_hs").alias("_tok"))
    mins = ", ".join(f"min(hash(_tok, {i}))" for i in range(num_hashes))
    sigs = (
        inv.groupBy(id_col)
        .agg(F.expr(f"array({mins})").alias("sig"))
        .localCheckpoint(eager=False)
    )
    cands = minhash_candidate_pairs(sigs, id_col, bands, rows_per_band)
    if exact_verify:
        hs = sets.withColumn("_sz", F.size("_hs"))
        sl = hs.select(
            F.col(id_col).alias("a"), F.col("_hs").alias("_ha"), F.col("_sz").alias("_sza")
        )
        sr = hs.select(
            F.col(id_col).alias("b"), F.col("_hs").alias("_hb"), F.col("_sz").alias("_szb")
        )
        joined = cands.join(sl, "a").join(sr, "b")
        inter = F.size(F.array_intersect("_ha", "_hb"))
        jac = (inter / (F.col("_sza") + F.col("_szb") - inter)).alias("jaccard")
        return joined.select("a", "b", jac).where(F.col("jaccard") >= threshold)
    sl = sigs.select(F.col(id_col).alias("a"), F.col("sig").alias("_sa"))
    sr = sigs.select(F.col(id_col).alias("b"), F.col("sig").alias("_sb"))
    joined = cands.join(sl, "a").join(sr, "b")
    agree = F.size(
        F.filter(
            F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: x == y),
            lambda z: z,
        )
    )
    est = (agree / F.lit(float(num_hashes))).alias("jaccard")
    return joined.select("a", "b", est).where(F.col("jaccard") >= threshold)


# 16-bit-lane mask for the packed SimHash vote counters: one masked
# sum of (h >>> k) & MASK accumulates the one-counts of bit positions
# k, k+16, k+32, k+48 in four independent 16-bit lanes of a single
# long. Lanes saturate only past 65535 tokens per (doc, aggregate) —
# see the overflow note in simhash_signatures.
_SIMHASH_LANE_MASK = 0x0001000100010001


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, hash: str = "xxhash64"
) -> DataFrame:
    """(id, simhash: bigint) 64-bit SimHash, entirely JVM-side.

    Per-token 64-bit hash: ``hash='xxhash64'`` (default — one native
    JVM hash per token, the right cost at 100 TB) or ``'md5'`` (the
    first 16 hex chars of md5(token), packed low-word-first into one
    long — DuckDB prints identical md5 hex, so the driver oracle
    recomputes the signature bit-for-bit; signatures DIFFER between
    modes, the near-dup pair structure is equivalent, pinned by test).

    Vote counting is PACKED (r9): instead of 64 per-bit ±1 sums, 16
    masked sums count 4 bit positions each in 16-bit lanes of one long
    ((h >>> k) & 0x0001000100010001 for k in 0..15) — a 4x cut of the
    per-token aggregate work, measured value-identical on both hash
    modes (sign(2*count_j - n) == sign(sum of ±1 votes) exactly, and
    the bit-j -> (lane j//16, shift j%16) layout reproduces the old
    word order). Tokens explode once; every per-token step is whole-
    stage-codegen'd with map-side partial aggregation — no Python
    anywhere.

    Overflow bound: documents of >= 32768 tokens are REFUSED loudly
    (assert_true below). Past 2^15 tokens the top lane's accumulation
    (count x 2^48) can leave signed-long range. The lane sums are
    ``try_sum``, so an overflowing sum turns NULL instead of aborting
    the job under ANSI mode with a generic overflow error, and the
    token-count guard then names the refusal for every oversized
    document; every signature that IS produced is exact. At 100 TB,
    pre-chunk such documents (or SimHash the chunks); the previous
    unpacked form merely degraded to a near-meaningless majority over
    such sizes anyway.

    The wide expression lists (word packing, lane sums, signature) are
    SQL strings, one py4j call each instead of one per Column node:
    the signature is a 64-step ``aggregate`` over the lane-sum array,
    bound once through a 1-element-array transform (rebind trap)."""
    inv = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("_tok"),
    )
    if hash == "md5":
        inv = inv.select(F.col(id_col), F.md5("_tok").alias("_md5"))
        h = " | ".join(
            f"shiftleft(CAST(conv(substring(_md5, {4 * k + 1}, 4), 16, 10) AS BIGINT),"
            f" {16 * k})"
            for k in range(4)
        )
    elif hash == "xxhash64":
        h = "xxhash64(_tok)"
    else:
        raise ValueError(f"hash must be 'xxhash64' or 'md5', got {hash!r}")
    inv = inv.select(F.col(id_col), F.expr(h).alias("_h"))
    sums = ", ".join(
        f"try_sum(shiftrightunsigned(_h, {k}) & {_SIMHASH_LANE_MASK}L)" for k in range(16)
    )
    grouped = inv.groupBy(id_col).agg(
        F.expr(f"array({sums})").alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    # bit j is lane j // 16 of sum j % 16: set when its count is a
    # strict majority of the document's tokens
    sh = F.expr(
        "transform(array(_s), s -> aggregate(sequence(0, 63), 0L, (acc, j) -> acc"
        " | IF((shiftrightunsigned(s[j % 16], j - j % 16) & 65535) * 2 > _n,"
        " shiftleft(1L, j), 0L)))[0]"
    )
    # lane-overflow guard: assert_true is free on the sane path and
    # fails loudly (not wrongly) on an oversized document (see the
    # overflow-bound note above for why the bound is 2^15)
    guard = F.assert_true(
        F.col("_n") < F.lit(32768),
        F.lit("simhash_signatures: document exceeds 32767 tokens — "
              "packed vote-lane accumulation could overflow; chunk the "
              "text before SimHashing"),
    )
    return grouped.select(
        F.col(id_col), F.when(guard.isNull(), sh).alias("simhash")
    )


def simhash_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    hash: str = "xxhash64", max_bucket_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: 4x16-bit segment blocking (a pair
    within hamming<=3 must agree on >=1 of 4 segments — pigeonhole, so
    blocking is COMPLETE for max_hamming < 4), exact popcount verify
    via bit_count(xor) — all JVM-side. ``hash`` as in
    simhash_signatures (xxhash64 production / md5 oracle).

    ``max_bucket_df`` caps the document frequency of a (segment, value)
    bucket: keys shared by more docs than the cap are dropped from
    candidate generation, mirroring ``ngram_jaccard_pairs(max_df=)``.
    Without it a degenerate corpus (billions of near-empty docs whose
    signatures share a zero 16-bit block) makes one bucket quadratic —
    AQE skew split shares the work across executors but cannot shrink
    the O(b^2) pair count itself. RECALL CAVEAT: capping weakens the
    pigeonhole completeness guarantee — a true pair whose EVERY
    agreeing segment lives in an over-cap bucket is missed. Pairs keep
    exact hamming distances either way (the verify step is unchanged),
    so the cap only costs recall, never precision."""
    sigs = simhash_signatures(df, id_col, text_col, hash=hash).localCheckpoint(
        eager=False
    )
    seg_keys = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), seg * 16).bitwiseAND(F.lit(0xFFFF))
            for seg in range(4)
        ]
    )
    buckets = sigs.select(
        F.col(id_col).alias("_id"),
        F.col("simhash").alias("_sh"),
        F.posexplode(seg_keys).alias("_seg", "_key"),
    )
    if max_bucket_df is not None:
        rare = (
            buckets.groupBy("_seg", "_key")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_bucket_df)
            .select("_seg", "_key")
        )
        buckets = buckets.join(rare, on=["_seg", "_key"], how="left_semi")
    l, r = buckets.alias("l"), buckets.alias("r")
    # hamming filter BEFORE distinct (r9): both signatures ride the
    # candidate row, so the exact popcount check costs one bit_count
    # per candidate OCCURRENCE map-side and the distinct then shuffles
    # only MATCHING pairs — at scale the dedup exchange carries the
    # near-dup set, not every bucket collision (same result set:
    # (a, b) determines the signatures, so the per-occurrence filter
    # commutes with the distinct).
    ham = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).alias("hamming")
    return (
        l.join(
            r,
            (F.col("l._seg") == F.col("r._seg"))
            & (F.col("l._key") == F.col("r._key"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("a"),
            F.col("r._id").alias("b"),
            F.col("l._sh").alias("_sa"),
            F.col("r._sh").alias("_sb"),
        )
        .select("a", "b", ham)
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    block_col: str | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold via an
    inverted-index self-join, optionally blocked by ``block_col``.

    Scale hardening: the join key is xxhash64(shingle) — an 8-byte
    long, never the shingle string — and ``max_df`` drops shingles
    whose document frequency exceeds it from CANDIDATE GENERATION
    (stopword-like shingles create quadratic bucket blowup at 100 TB).
    The Jaccard itself is computed exactly on the full distinct shingle
    sets in a separate verification join, so max_df only costs recall
    for pairs whose every shared shingle is ultra-common — it never
    corrupts reported similarities (the round-1 count-based formulation
    would have undercounted intersections under a cutoff)."""
    base = (
        df.select(
            F.col(id_col).alias("_id"),
            *([F.col(block_col).alias("_blk")] if block_col else []),
            _shingle_hashes(text_col, n).alias("_hs"),
        )
        .withColumn("_sz", F.size("_hs"))
        .localCheckpoint(eager=False)
    )
    inv = base.select(
        "_id", *(["_blk"] if block_col else []), F.explode("_hs").alias("_tok")
    )
    if max_df is not None:
        rare = (
            inv.groupBy("_tok")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("_tok")
        )
        inv = inv.join(rare, on="_tok", how="left_semi")
    l, r = inv.alias("l"), inv.alias("r")
    cond = (F.col("l._tok") == F.col("r._tok")) & (F.col("l._id") < F.col("r._id"))
    if block_col:
        cond = cond & (F.col("l._blk") == F.col("r._blk"))
    cands = (
        l.join(r, cond)
        .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
        .distinct()
    )
    sl = base.select(
        F.col("_id").alias("a"), F.col("_hs").alias("_ha"), F.col("_sz").alias("_sza")
    )
    sr = base.select(
        F.col("_id").alias("b"), F.col("_hs").alias("_hb"), F.col("_sz").alias("_szb")
    )
    joined = cands.join(sl, "a").join(sr, "b")
    inter = F.size(F.array_intersect("_ha", "_hb"))
    jac = (inter / (F.col("_sza") + F.col("_szb") - inter)).alias("jaccard")
    return joined.select("a", "b", jac).where(F.col("jaccard") >= threshold)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    num_bands: int = 8,
    planes_per_band: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup: BANDED random-hyperplane LSH ->
    in-bucket exact cosine verify (double precision, JVM-side).

    OR-amplification across bands fixes the round-1 recall cliff: one
    16-plane bucket finds a cosine-0.95 pair with probability
    (1-acos(.95)/pi)^16 ~= 0.18; with 8 bands of 12 planes a
    cosine-0.99 pair is missed with probability ~1e-3 (and a 0.999
    near-dup with ~1e-6). planes_per_band also sets PRECISION: 12
    planes = 4096 buckets per band, so random pairs collide at ~2^-12
    and candidate volume stays ~N x avg-bucket-size per band (an early
    4-plane variant produced 16 buckets per band = a quadratic
    candidate blowup at 50k vectors). Candidates are distinct (a, b)
    from a per-band equi-join — never an all-pairs product — and only
    candidate pairs' vectors meet again for the exact check, mirroring
    the MinHash banding topology above."""
    from .similarity import _banded_bucket_udf, cosine_expr

    buckets = _banded_bucket_udf(num_bands, planes_per_band, seed)
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        buckets(F.col(vec_col)).alias("_bkts"),
    ).localCheckpoint(eager=False)
    exploded = base.select("_id", F.posexplode("_bkts").alias("_band", "_bkt"))
    l, r = exploded.alias("l"), exploded.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l._band") == F.col("r._band"))
            & (F.col("l._bkt") == F.col("r._bkt"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
        .distinct()
    )
    vl = base.select(F.col("_id").alias("a"), F.col("_v").alias("_va"))
    vr = base.select(F.col("_id").alias("b"), F.col("_v").alias("_vb"))
    joined = cands.join(vl, "a").join(vr, "b")
    cos = cosine_expr(F.col("_va"), F.col("_vb")).alias("cosine")
    return joined.select("a", "b", cos).where(F.col("cosine") >= threshold)


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
    reliable: bool = False,
) -> DataFrame:
    """Connected components over duplicate pairs: (doc_id, cluster)
    where cluster = the smallest doc id reachable through any chain of
    pair edges. Turns PAIRWISE dedup output (minhash/simhash/ngram/
    exact) into canonical-document clusters — A~B and B~C must collapse
    to one keeper even when A~C was never emitted as a pair.

    Alternating large-star/small-star contraction (Kiveris, Lattanzi,
    Mirrokni, Rastogi & Vassilvitskii, "Connected Components in
    MapReduce and Beyond", ACM SoCC'14 — public paper): each round
    rewires every node's strictly-larger neighbors (large-star), then
    its smaller neighbors (small-star), to the neighborhood minimum.
    Both steps preserve connectivity and converge to disjoint stars
    centered at each component's minimum in **O(log n) rounds even for
    path graphs** — unlike min-label propagation, whose O(diameter)
    rounds stall on one adversarial long chain at 100 TB. A 1000-node
    chain converges in <= 12 rounds (pinned by test); near-dup
    components (stars, short chains) still exit in 2-4.

    Each round's edge set is localCheckpoint()ed to truncate the
    growing lineage, the previous round's blocks are explicitly
    unpersisted once the convergence check no longer needs them (at
    most two edge copies in executor storage), and the convergence
    check (edge-set fixpoint: equal count + equal xor-of-hashes
    checksum gating a definitive empty set-difference) is scalar
    actions, never a collect of data.

    ``reliable=True`` swaps every lineage-truncating checkpoint for a
    fault-tolerant ``df.checkpoint()`` against the context's checkpoint
    dir (``sc.setCheckpointDir`` — HDFS/object store on a real
    cluster). localCheckpoint (the fast default) stores NON-REPLICATED
    blocks in executor memory/disk: at 100 TB one preempted executor
    mid-fixpoint kills the lineage-truncated job, while reliable
    checkpoint files survive any executor loss at the cost of a
    write+read through the checkpoint FS per round. Checkpoint files
    are cleaned by Spark when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (else
    they age out with the directory).

    Returns one row per node that appears in ``pairs``; singleton
    documents (no dup edges) are implicitly their own cluster. Ids keep
    their input type (string/UUID ids cluster as well as ints — an
    earlier cast-to-long silently nulled them out); ``cluster`` is the
    component's min id under the type's natural ordering. Raises
    RuntimeError if the fixpoint is not reached within
    ``max_iterations`` (a partial contraction would silently split
    clusters and keep extra duplicate keepers).
    """
    sc = pairs.sparkSession.sparkContext
    if reliable and sc.getCheckpointDir() is None:
        raise ValueError(
            "dup_clusters(reliable=True) needs a fault-tolerant "
            "checkpoint directory: call "
            "spark.sparkContext.setCheckpointDir('<hdfs-or-shared-path>') "
            "first (localCheckpoint blocks die with their executor; the "
            "reliable mode exists precisely to survive that)"
        )

    # sc._jsc.getPersistentRDDs() is a pyspark-internal API (it has
    # moved across Spark majors before): guard every access so an API
    # change degrades to SKIPPING explicit unpersist — Spark's
    # reference-tracking ContextCleaner still reclaims the blocks via
    # GC — instead of raising mid-fixpoint and failing the clustering.
    def _pinned_ids() -> set:
        try:
            return set(sc._jsc.getPersistentRDDs().keySet().toArray())
        except Exception:  # AttributeError or py4j — not uniform
            return set()

    def _release(ids: set) -> None:
        try:
            jmap = sc._jsc.getPersistentRDDs()
        except Exception:
            return
        for rid in ids:
            rdd = jmap.get(rid)
            if rdd is not None:
                rdd.unpersist(False)

    def _checkpoint(df: DataFrame) -> tuple[DataFrame, set]:
        before = _pinned_ids()
        out = df.checkpoint() if reliable else df.localCheckpoint()
        return out, _pinned_ids() - before

    def _edge_sig(df: DataFrame) -> tuple[int, "int | None"]:
        """(count, order-independent xor checksum) of a canonical edge
        SET in ONE action. The checksum gates the definitive (and
        expensive — full double shuffle) exceptAll fixpoint test: two
        equal-size rounds whose sets differ almost surely differ in
        xor(xxhash64), so non-converged rounds never pay the set
        difference. bit_xor (not sum) keeps the fold overflow-free
        under Spark 4's default ANSI mode."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("sig"),
        ).collect()[0]
        return int(row["n"]), row["sig"]

    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).where(
        F.col(id_a).isNotNull() & F.col(id_b).isNotNull()
    )
    # canonical orientation: every undirected edge stored once as
    # (a, b) with a > b under the id type's natural ordering
    edges, edge_ids = _checkpoint(
        e.where(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
    )
    edge_count, edge_sig = _edge_sig(edges)
    converged = False
    for _ in range(max_iterations):
        # large-star: over the bidirectional view, attach each node's
        # STRICTLY LARGER neighbors to min(neighborhood ∪ self).
        # Emitted pairs (v, m) with v > a >= m stay canonical.
        bi = edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = bi.groupBy("a").agg(F.min("b").alias("mn"))
        large = (
            bi.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(
                F.col("b").alias("a"),
                F.least(F.col("a"), F.col("mn")).alias("b"),
            )
            .distinct()
        )
        # small-star: on the canonical (a > b) orientation each node's
        # smaller neighbors (and the node itself) attach to the
        # neighborhood minimum mn (< a, so emitted pairs are canonical)
        mins2 = large.groupBy("a").agg(F.min("b").alias("mn"))
        # LAZY checkpoint: the fixpoint aggregate below is the round's
        # first action, so it materializes the checkpoint blocks in the
        # same job — an eager checkpoint would run one extra full pass
        # per round just to pin the blocks
        before_ids = _pinned_ids()
        new_edges = (
            large.join(mins2, "a")
            .select(F.col("b").alias("a"), F.col("mn").alias("b"))
            .union(mins2.select(F.col("a"), F.col("mn").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        new_edges = (
            new_edges.checkpoint(eager=False)
            if reliable
            else new_edges.localCheckpoint(eager=False)
        )
        # fixpoint test on the canonical edge SET: same cardinality and
        # checksum (ONE scalar action; both reuse the previous round's
        # values — and it doubles as the checkpoint materialization),
        # then — only when both match — the definitive empty one-sided
        # difference
        new_count, new_sig = _edge_sig(new_edges)
        new_ids = _pinned_ids() - before_ids
        same = (
            new_count == edge_count
            and new_sig == edge_sig
            and new_edges.exceptAll(edges).count() == 0
        )
        _release(edge_ids)  # convergence check done — drop the old copy
        edges, edge_ids = new_edges, new_ids
        edge_count, edge_sig = new_count, new_sig
        if same:
            converged = True
            break
    if not converged:
        _release(edge_ids)
        raise RuntimeError(
            f"dup_clusters did not converge within {max_iterations} rounds "
            "— returning the partial contraction would silently split "
            "components into several clusters. large-star/small-star needs "
            "O(log n) rounds, so raise max_iterations only for truly "
            "enormous components."
        )
    # at the fixpoint the graph is a union of stars (leaf, center) with
    # center = component min; centers label themselves
    labels = (
        edges.select(F.col("a").alias("doc_id"), F.col("b").alias("cluster"))
        .union(
            edges.select(F.col("b").alias("doc_id"), F.col("b").alias("cluster"))
        )
        .distinct()
    )
    out, _ = _checkpoint(labels)
    _release(edge_ids)  # the returned labels are materialized
    return out
