"""Deduplication operators for training-data pipelines (BASELINE.json
north star; SURVEY.md M6): exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale shapes (the reason each variant exists):
- exact:        one hash-groupBy. The O(n) baseline; catches byte dups.
- minhash+LSH:  shingle -> k minhashes -> band buckets -> join INSIDE
                buckets only. Candidate generation is linear in bucket
                occupancy, never all-pairs — this is THE 100 TB near-dup
                path (the GPL/C4/RefinedWeb recipe).
- ngram-jaccard: exact Jaccard via a shared-shingle join; quadratic only
                within shingle-sharing groups. Ground truth for tuning
                the LSH operating point at sampled scale.
- simhash:      per-doc signature whose Hamming distance tracks cosine of
                token multisets; banding over signature halves gives
                near-dup candidates with one equality join.
- embedding:    similarity_self_join (operators/ann.py) over vectors at a
                high threshold — semantic near-dup.

All hashing is md5-string based so DuckDB oracles reproduce every
signature exactly (see functions/text.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from echo_chambers_detection_spark.functions.text import (
    minhash_fingerprint,
    tokenize,
    word_ngrams,
)
from echo_chambers_detection_spark.operators.graph import (
    _materialize,
    _owns_checkpoints,
    connected_components,
)


def exact_dedup_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by content hash: (text_md5, survivor_id,
    group_size). Survivor = min id (deterministic keep-first policy)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count("*").alias("group_size"),
        )
    )


def doc_shingles(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_ngrams(tokenize(text_col), n)).alias("shingle"),
        )
        .distinct()
    )


def minhash_signatures(shingles: DataFrame, num_perm: int = 16) -> DataFrame:
    """Exploded minhash signatures: (doc_id, perm, minhash) with
    minhash = min over shingles of md5(perm || ':' || shingle).

    One groupBy per doc — the k 'permutations' are computed as k
    conditional mins in a single aggregation pass, not k passes."""
    perms = F.explode(
        F.sequence(F.lit(0), F.lit(num_perm - 1))
    ).alias("perm")
    exploded = shingles.select("doc_id", "shingle", perms)
    return exploded.groupBy("doc_id", "perm").agg(
        F.min(
            F.md5(F.concat_ws(":", F.col("perm"), F.col("shingle")))
        ).alias("minhash")
    )


def lsh_band_keys(
    signatures: DataFrame, rows_per_band: int = 4
) -> DataFrame:
    """Collapse signature rows into band keys: (doc_id, band, band_key).
    band_key = md5 of the band's minhashes in perm order; docs sharing a
    band_key in any band are near-dup candidates."""
    banded = signatures.withColumn(
        "band", (F.col("perm") / rows_per_band).cast("int")
    )
    return (
        banded.groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("perm", "minhash"))
                        ),
                        lambda s: s["minhash"],
                    ),
                    "|",
                )
            ).alias("band_key")
        )
    )


def lsh_candidate_pairs(band_keys: DataFrame) -> DataFrame:
    """Bucket-join: pairs sharing at least one band (d1 < d2). The join is
    per (band, band_key) bucket — no all-pairs comparison ever happens."""
    a = band_keys.select(
        "band", "band_key", F.col("doc_id").alias("d1")
    )
    b = band_keys.select(
        "band", "band_key", F.col("doc_id").alias("d2")
    )
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    threshold: float = 0.05,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every shingle-sharing pair:
    (d1, d2, jaccard) with jaccard >= threshold.

    |A ∩ B| from the shared-shingle join; |A ∪ B| = |A| + |B| − |A ∩ B|.
    Quadratic only within shingle groups; `max_shingle_freq` drops
    shingles appearing in more than that many documents (boilerplate —
    headers, license blocks) BEFORE sizes are computed, the standard
    guard at scale: a shingle shared by 1M docs would otherwise generate
    5·10¹¹ pairs on one join key. Jaccard is then computed over the
    filtered shingle sets (the usual definition under frequency capping).
    None disables the cap (exact Jaccard; fixture max freq is 7)."""
    if max_shingle_freq is not None:
        freq = shingles.groupBy("shingle").agg(F.count("*").alias("_f"))
        shingles = (
            shingles.join(
                freq.where(F.col("_f") <= max_shingle_freq), "shingle"
            ).drop("_f")
        )
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = shingles.select(F.col("doc_id").alias("d1"), "shingle")
    b = shingles.select(F.col("doc_id").alias("d2"), "shingle")
    shared = (
        a.join(b, "shingle")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("shared"))
    )
    out = (
        shared.join(
            sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1")),
            "d1",
        )
        .join(
            sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2")),
            "d2",
        )
        .select(
            "d1",
            "d2",
            (
                F.col("shared")
                / (F.col("sz1") + F.col("sz2") - F.col("shared"))
            ).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= threshold)


def containment_pairs(
    shingles: DataFrame,
    threshold_ppm: int = 500_000,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT for every shingle-sharing ordered
    pair: (contained, container, containment_ppm) with
    containment(A in B) = |A ∩ B| / |A| — the quote-inclusion /
    wrapper-page dedup signal Jaccard misses by construction (a short
    doc fully quoted inside a long one has tiny Jaccard but containment
    1.0; the standard curation companion to the symmetric near-dup
    pass). Emitted as floor-ppm integers (hash-exact in both engines).

    Scale shape: identical to `jaccard_pairs` — quadratic only within
    shingle groups, one shared-shingle join + two size joins; the same
    `max_shingle_freq` boilerplate cap guards the hot-shingle key.
    Both directions of each unordered pair are scored; only directions
    at/above threshold_ppm survive."""
    if max_shingle_freq is not None:
        freq = shingles.groupBy("shingle").agg(F.count("*").alias("_f"))
        shingles = (
            shingles.join(
                freq.where(F.col("_f") <= max_shingle_freq), "shingle"
            ).drop("_f")
        )
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = shingles.select(F.col("doc_id").alias("d1"), "shingle")
    b = shingles.select(F.col("doc_id").alias("d2"), "shingle")
    shared = (
        a.join(b, "shingle")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("shared"))
        .join(
            sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1")),
            "d1",
        )
        .join(
            sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2")),
            "d2",
        )
    )
    ppm = lambda c, sz: F.floor(c * 1000000.0 / sz).cast("bigint")  # noqa: E731
    dirs = shared.select(
        F.col("d1").alias("contained"),
        F.col("d2").alias("container"),
        ppm(F.col("shared"), F.col("sz1")).alias("containment_ppm"),
    ).unionByName(
        shared.select(
            F.col("d2").alias("contained"),
            F.col("d1").alias("container"),
            ppm(F.col("shared"), F.col("sz2")).alias("containment_ppm"),
        )
    )
    return dirs.where(F.col("containment_ppm") >= threshold_ppm)


def simhash16(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """16-bit SimHash per document: (doc_id, simhash).

    Bit j is the sign of Σ_tokens (±1), where token t votes +1 on bit j
    iff hex digit j of md5(t) has its high nibble bit set (digit in
    '89abcdef'). Pure string ops — reproducible in the DuckDB oracle.
    Production width is 64 bits via a native hash; 16 bits keeps the
    oracle exact while exercising the identical plan shape."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(text_col)).alias("token"),
    )
    hashed = tok.select("doc_id", F.md5("token").alias("h"))
    bits = hashed.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("j"),
        "h",
    ).select(
        "doc_id",
        "j",
        F.when(
            F.col("h").substr(F.col("j") + 1, F.lit(1)).isin(
                "8", "9", "a", "b", "c", "d", "e", "f"
            ),
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("vote"),
    )
    return (
        bits.groupBy("doc_id", "j")
        .agg(F.sum("vote").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.expr("shiftleft(1, j)"))
                .otherwise(F.lit(0))
            ).alias("simhash")
        )
    )


def simhash64(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vote_hash=None,
) -> DataFrame:
    """64-bit SimHash per document — the PRODUCTION width (VERDICT r3
    #5): (doc_id, simhash long).

    Bit j of the signature is the sign of Σ_tokens vote_j(t), where
    vote_j(t) = +1 iff bit j of the token hash is set. The default
    token hash is xxhash64 — native, JVM-side, 64 real bits — which is
    deliberately NOT cross-engine reproducible (DuckDB has no
    xxhash64), so the catalog exposes this as a rows-only query while
    the md5-digit 16-bit path (`simhash16`) stays the oracle-exact
    variant; a parity test pins both to the same vote/aggregate
    machinery on the overlapping 16-bit width.

    Physical shape: one explode to (doc, token), one hash, then ALL 64
    bit-sums in a single aggregation pass (64 conditional sums — the
    same one-pass trick as the minhash permutations), and one final
    projection packs signs into the long. No Python anywhere.

    `vote_hash`: optional Column-function token -> long whose bits are
    the per-bit votes (test seam for the 16-bit parity check).
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(text_col)).alias("token"),
    )
    h = (vote_hash or F.xxhash64)(F.col("token"))
    hashed = tok.select("doc_id", h.alias("h"))
    # SWAR lane packing: 64 independent ±1 vote sums would be 64
    # CASE-WHEN aggregates (measured 6.6 s for 5k docs — the generated
    # aggregate falls out of whole-stage codegen). Instead count SET
    # bits only (sign(Σ±1) > 0 ⇔ 2·count_set > n) and pack FOUR bit
    # counters per long, 16 bits each — 16 SUM aggregates + one COUNT.
    # A lane gains at most 1 per row, so lanes cannot cross below 65,536
    # tokens per document; beyond that failure is LOUD, never silent:
    # ANSI arithmetic overflows the packed SUM itself for typical token
    # mixes, and the explicit n-based raise below covers adversarial
    # mixes that keep the high lanes cold (real curation pipelines
    # length-filter far below the bound).
    one = F.lit(1).cast("long")
    aggs = [F.count("*").alias("n")]
    for g in range(16):
        packed = F.lit(0).cast("long")
        for lane in range(4):
            j = g * 4 + lane
            bit = F.shiftrightunsigned(F.col("h"), j).bitwiseAND(one)
            packed = packed + F.shiftleft(bit, 16 * lane)
        aggs.append(F.sum(packed).alias(f"p{g}"))
    sums = hashed.groupBy("doc_id").agg(*aggs)
    sig = F.lit(0).cast("long")
    mask16 = F.lit((1 << 16) - 1).cast("long")
    for g in range(16):
        for lane in range(4):
            j = g * 4 + lane
            cnt = F.shiftrightunsigned(F.col(f"p{g}"), 16 * lane).bitwiseAND(
                mask16
            )
            # 1 << 63 wraps to Long.MIN_VALUE — the sign bit of the
            # packed signature, a valid bit position, not an overflow
            sig = sig + F.when(
                cnt * 2 > F.col("n"),
                F.lit(1 << j if j < 63 else -(1 << 63)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
    sig = F.when(
        F.col("n") >= (1 << 16),
        F.raise_error(
            F.concat(
                F.lit("simhash64 lane overflow: document "),
                F.col("doc_id").cast("string"),
                F.lit(" has >= 65536 tokens — filter oversized docs first"),
            )
        ).cast("long"),
    ).otherwise(sig)
    return sums.select("doc_id", sig.alias("simhash"))


def md5_vote64(token) -> "F.Column":
    """Cross-engine-reproducible 64-bit vote hash for `simhash64`
    (VERDICT r4 #4): the first 16 hex digits of md5(token) read as a
    64-bit integer — bit j of the vote long is bit (j mod 4) of hex
    digit (j div 4). Pure string ops + conv, so DuckDB rebuilds the
    IDENTICAL bits from the same md5 string and the 64-bit production
    width itself becomes oracle-checkable (the default xxhash64 vote
    has no DuckDB twin). Digit values stay < 16, so every shiftleft
    lane is disjoint — bitwiseOR packing, no carries, no overflow
    (bit 63 wraps to the sign bit by Java shift semantics, which is
    exactly the two's-complement encoding the oracle's CASE emits)."""
    c = F.col(token) if isinstance(token, str) else token
    h = F.md5(c)
    acc = F.lit(0).cast("long")
    for p in range(16):
        v = F.conv(h.substr(p + 1, 1), 16, 10).cast("long")
        acc = acc.bitwiseOR(F.shiftleft(v, 4 * p))
    return acc


def simhash64_rowwise(text_col) -> "F.Column":
    """The SAME 64-bit signature as `simhash64`, computed ROW-LOCALLY:
    one `aggregate` over the token array folds the 16 SWAR lane-packs,
    so no explode, no groupBy, no shuffle — a streaming micro-batch (or
    plain ingest projection) signs documents with zero state. Bit-for-
    bit parity with the aggregation formulation is pinned by test
    (the vote sum is commutative, so token order cannot matter). One
    deliberate difference: this signs EVERY row (token-less docs get
    signature 0), while the explode+groupBy form emits no row for them
    — filter on token count first if empty docs must not collide."""
    toks = tokenize(text_col)
    one = F.lit(1).cast("long")
    zero16 = F.array(*[F.lit(0).cast("long") for _ in range(16)])

    def step(acc, tok):
        h = F.xxhash64(tok)
        packs = []
        for g in range(16):
            p = F.lit(0).cast("long")
            for lane in range(4):
                j = g * 4 + lane
                bit = F.shiftrightunsigned(h, j).bitwiseAND(one)
                p = p + F.shiftleft(bit, 16 * lane)
            packs.append(p)
        return F.zip_with(acc, F.array(*packs), lambda a, b: a + b)

    counts = F.aggregate(toks, zero16, step)
    n = F.size(toks).cast("long")
    mask16 = F.lit((1 << 16) - 1).cast("long")
    sig = F.lit(0).cast("long")
    for g in range(16):
        for lane in range(4):
            j = g * 4 + lane
            cnt = F.shiftrightunsigned(
                F.element_at(counts, g + 1), 16 * lane
            ).bitwiseAND(mask16)
            sig = sig + F.when(
                cnt * 2 > n,
                F.lit(1 << j if j < 63 else -(1 << 63)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
    # same 16-bit lane bound as simhash64 — overflow must be loud
    return F.when(
        n >= (1 << 16),
        F.raise_error(
            F.lit(
                "simhash64_rowwise lane overflow: document has >= 65536 "
                "tokens — filter oversized docs first"
            )
        ).cast("long"),
    ).otherwise(sig)


@_owns_checkpoints
def simhash_candidate_pairs_banded(
    signatures: DataFrame,
    max_hamming: int = 3,
    width: int = 64,
) -> DataFrame:
    """Near-dup candidates for arbitrary-width SimHash signatures:
    split into (max_hamming + 1) bands — by pigeonhole any pair within
    the Hamming budget agrees exactly on at least one band — one
    equality join per band keyed (band_index, band_value), union,
    exact bit_count verify. Returns (d1, d2, hamming).

    The shuffle keys on band values, never on n² pairs; a hot band
    value (e.g. the all-zeros band from empty docs) is the same skew
    trade as every LSH bucket join here — band count is the knob."""
    bands = max_hamming + 1
    band_bits = width // bands
    # Materialization barrier: the signature plan (explode +
    # 17-aggregate SWAR pass) feeds 2·bands union branches below —
    # without it Catalyst re-executes the aggregation once per branch
    # (measured 8× at max_hamming=3: ~12 s instead of ~3 s for 5k docs
    # at sf0.1). Eager by necessity: under the session's AQE even a
    # lazy localCheckpoint materializes the shuffle map stage at plan
    # construction (verified — eager=False saved nothing), so we take
    # the construction-time job like every other catalog barrier and
    # use graph._materialize for its ckpt-id tagging convention.
    signatures = _materialize(signatures)
    keyed = None
    for i in range(bands):
        shifted = F.shiftrightunsigned(F.col("simhash"), i * band_bits)
        if band_bits < 64:
            # (1 << 64) - 1 does not fit a signed long literal; a single
            # 64-bit band needs no mask at all (max_hamming = 0 — the
            # exact-duplicate join)
            shifted = shifted.bitwiseAND(F.lit((1 << band_bits) - 1))
        part = signatures.select(
            "doc_id",
            "simhash",
            F.lit(i).alias("band"),
            shifted.alias("bv"),
        )
        keyed = part if keyed is None else keyed.unionByName(part)
    a = keyed.select(
        F.col("doc_id").alias("d1"),
        F.col("simhash").alias("s1"),
        "band",
        "bv",
    )
    b = keyed.select(
        F.col("doc_id").alias("d2"),
        F.col("simhash").alias("s2"),
        "band",
        "bv",
    )
    cands = (
        a.join(b, ["band", "bv"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "s1", "s2")
        .distinct()
    )
    return cands.select(
        "d1",
        "d2",
        F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


@_owns_checkpoints
def simhash_candidate_pairs(
    signatures: DataFrame, max_hamming: int = 1
) -> DataFrame:
    """Near-dup candidates by SimHash banding: split the 16-bit signature
    into two 8-bit halves; by pigeonhole, any pair within Hamming
    distance 1 agrees exactly on at least one half — one equality join
    per half, then an exact Hamming verify. Returns (d1, d2, hamming)."""
    # same re-execution barrier as simhash_candidate_pairs_banded
    # (see the AQE note there): the signature aggregation feeds 4
    # union branches
    signatures = _materialize(signatures)
    halves = signatures.select(
        "doc_id",
        "simhash",
        F.shiftright(F.col("simhash"), 8).alias("hi"),
        (F.col("simhash") % 256).alias("lo"),
    )
    cands = None
    for half in ("hi", "lo"):
        a = halves.select(
            F.col("doc_id").alias("d1"),
            F.col("simhash").alias("s1"),
            F.col(half).alias("k"),
        )
        b = halves.select(
            F.col("doc_id").alias("d2"),
            F.col("simhash").alias("s2"),
            F.col(half).alias("k"),
        )
        p = a.join(b, "k").where(F.col("d1") < F.col("d2")).select(
            "d1", "d2", "s1", "s2"
        )
        cands = p if cands is None else cands.unionByName(p)
    verified = cands.distinct().select(
        "d1",
        "d2",
        F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).alias("hamming"),
    )
    return verified.where(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style): cluster embeddings, exact-cosine
# within each cluster, drop all but the min-id member of each near-dup
# component. The embedding-space sibling of the MinHash keep-list above
# — the standard curation step for pretraining corpora (near-identical
# paraphrases that share no shingles).
# ---------------------------------------------------------------------------


@_owns_checkpoints
def semantic_clusters(
    embeddings: DataFrame,
    mode: str = "kmeans",
    k: int = 16,
    id_col: str = "post_cid",
) -> DataFrame:
    """Cluster assignment for semantic dedup: (id, cluster).

    mode='kmeans' — deterministic Lloyd quantizer (operators/ann.py::
    ivf_index), the production path: cluster count scales the pairwise
    work down by ~k, and assignment is one Arrow GEMM pass.
    mode='md5' — first md5 nibble of the id, mod k (k <= 16): data-
    independent bucketing that DuckDB replays verbatim, the
    oracle-exact twin configuration (same role as simhash64's md5-vote
    twin). mode='exhaustive' — one cluster; the pairwise step provably
    equals the exact GEMM self-join."""
    if mode == "kmeans":
        from echo_chambers_detection_spark.operators.ann import ivf_index

        assign, _ = ivf_index(embeddings, k=k, id_col=id_col)
        return assign.select(id_col, "cluster")
    if mode == "md5":
        if not 1 <= k <= 16:
            raise ValueError(f"md5 mode uses one nibble: k in 1..16, got {k}")
        nib = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 1), 16, 10
        ).cast("int")
        return embeddings.select(
            id_col, F.pmod(nib, F.lit(k)).alias("cluster")
        )
    if mode == "exhaustive":
        return embeddings.select(id_col, F.lit(0).alias("cluster"))
    raise ValueError(f"mode must be kmeans|md5|exhaustive, got {mode!r}")


@_owns_checkpoints
def semantic_dedup_keep_list(
    embeddings: DataFrame,
    threshold: float = 0.7,
    mode: str = "kmeans",
    k: int = 16,
    id_col: str = "post_cid",
    vec_col: str = "vector",
) -> DataFrame:
    """SemDeDup keep-list: (dropped id, keeper id) for every document
    whose embedding sits in a near-dup component (exact cosine >=
    threshold within its cluster); the kept representative is the
    component's min id — the same keeper convention as the MinHash
    `near_dup_keep_list` chain.

    Scale shape: pairwise work is confined to clusters (the SemDeDup
    recipe — k-means over embeddings, then per-cluster similarity), so
    the shuffle keys on `cluster` and each Arrow group scores its
    members with one GEMM tile; nothing all-pairs, no driver rows.
    Cross-cluster near-dups are missed by design — that is the
    recall/cost dial k controls (k=1 via mode='exhaustive' is exact).
    Components via the distributed min-label loop, so chained
    duplicates collapse to one keeper."""
    import pandas as pd

    cl = semantic_clusters(embeddings, mode=mode, k=k, id_col=id_col)
    withvec = cl.join(
        embeddings.select(F.col(id_col), F.col(vec_col).alias("_vec")),
        id_col,
    )

    def cluster_gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(pdf) < 2:
            return pd.DataFrame({"u1": [], "u2": []})
        x = np.stack(pdf["_vec"].to_numpy()).astype("float64")
        norms = np.linalg.norm(x, axis=1)
        ids = pdf[id_col].to_numpy()
        u1, u2 = [], []
        # BLOCKED scoring: clusters are n/k rows by design, and a full
        # s x s sims matrix at s=7k is ~400MB per task — 32 concurrent
        # tasks OOM'd the Python workers at the 110k-vector bench scale.
        # Row blocks of 2048 against the full cluster cap the per-task
        # float surface at ~2048*s doubles regardless of cluster size.
        B = 2048
        with np.errstate(divide="ignore", invalid="ignore"):
            for s0 in range(0, len(ids), B):
                xb = x[s0 : s0 + B]
                # in-place: sims/denom values are IEEE-identical to the
                # old np.outer/np.where shape (0/0 -> nan covers the
                # zero-norm rows, whose dot is exactly 0), two fewer
                # full-matrix allocations per block
                sims = xb @ x.T
                sims /= norms[s0 : s0 + B, None] * norms[None, :]
                np.round(sims, 6, out=sims)
                ii, jj = np.nonzero(sims >= threshold)
                a, b = ids[s0 + ii], ids[jj]
                lt = a < b
                u1.append(a[lt])
                u2.append(b[lt])
        return pd.DataFrame(
            {
                "u1": np.concatenate(u1) if u1 else [],
                "u2": np.concatenate(u2) if u2 else [],
            }
        )

    id_type = dict(embeddings.dtypes)[id_col]
    # Pin the group exchange's width: the cluster-keyed shuffle is tiny
    # in BYTES (vectors), so AQE coalesces it to a handful of tasks —
    # but each task then runs several cluster GEMMs serially and the
    # stage is CPU-bound, not IO-bound (measured: 7 tasks on 32 cores
    # at the 110k bench). An explicit hash repartition on the group key
    # pins task count at the session's parallelism; the groupBy reuses
    # the clustering, no second exchange.
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    pairs = (
        withvec.repartition(par, "cluster")
        .groupBy("cluster")
        .applyInPandas(cluster_gemm, schema=f"u1 {id_type}, u2 {id_type}")
    )
    comps = connected_components(pairs)
    return comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col), F.col("component").alias("keeper")
    )
