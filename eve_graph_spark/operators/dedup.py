"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale shapes (the whole point at 100 TB):
- exact dedup: hash-partitioned groupBy on the content key — one shuffle,
  partial aggregation upstream;
- MinHash LSH: shingle → K minhashes → B bands → groupBy band-bucket →
  candidate pairs only within buckets (never all-pairs), then exact
  Jaccard verification on the candidates;
- SimHash: 64-bit signature per doc from per-token hash bit votes; near-dup
  candidates = identical band of the signature;
- everything uses xxhash64 (JVM, codegen) — no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eve_graph_spark.checkpointing import truncate_lineage
from eve_graph_spark.frames import local_frame


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest: Column | None = None,
    verify: bool = False,
) -> DataFrame:
    """Keep the smallest id per exact content.

    Grouping happens on a content digest computed scan-side, so the dedup
    shuffle carries (digest, id) rows — never the text. The default digest
    is sha2-256: at P docs the expected number of colliding PAIRS is
    ~P²/2^257 (≈1e-55 even at P=1e11), so distinct docs are never silently
    merged — the failure mode a 64-bit digest has at corpus scale
    (~hundreds of birthday collisions at 1e11 docs, each dropping a
    distinct doc).

    `verify=True` makes dedup exact per DISTINCT TEXT regardless of the
    digest, for callers injecting a narrower `digest` (e.g. to co-key
    with an existing 64-bit layout): the winner is the min id per
    (digest, text) group, so a digest collision changes nothing — every
    distinct text keeps exactly one survivor and true duplicate pairs
    always collapse, even two identical non-winner texts colliding with
    a third (ADVICE r6: the old re-check-against-the-digest-winner form
    let those escape as a pair). Costs a text-carrying shuffle, the same
    budget as groupBy(text), so the default path leaves it off.
    """
    h = digest if digest is not None else F.sha2(F.col(text_col), 256)
    if not verify:
        winners = df.groupBy(h.alias("__h")).agg(F.min(id_col).alias(id_col))
        return df.join(winners.select(id_col), id_col, "left_semi")
    # winner per (digest, text): NULL text is its own group under groupBy,
    # and digest in the key keeps the shuffle co-partitioned with the
    # caller's digest layout (the reason verify callers inject one)
    keep = (
        df.groupBy(h.alias("__h"), F.col(text_col).alias("__t"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def _shingles_sql(text_col: str, k: int = 3) -> str:
    """SQL for distinct k-word shingles as an array<string>.

    NULL text is coalesced to '' so null-text docs keep one ('') shingle
    and stay in the dedup universe — explode over a NULL array would emit
    no rows and silently drop the doc from signatures and every
    downstream stage (keep-first survivors would lose it entirely).

    The word array is LET-BOUND via a 1-element transform (r13 guide §1.2
    per-task-work fix): the naive form referenced split(lower(text), ' ')
    inside the per-position lambda, and higher-order lambdas re-evaluate
    their body subexpressions per element — O(words × text) re-splitting
    per doc, measured 3.6× the whole expression's cost at sf0.1 (2.06 s →
    0.57 s over the 5k-doc fixture, values byte-identical). The lambda
    variable __ws is evaluated once per doc; slice(__ws, …) is a variable
    lookup.
    """
    t = f"coalesce({text_col}, '')"
    return (
        f"transform(array(split(lower({t}), ' ')), __ws -> "
        f"array_distinct(CASE WHEN size(__ws) >= {k} THEN "
        f"transform(sequence(0, size(__ws) - {k}), "
        f"i -> concat_ws(' ', slice(__ws, i + 1, {k}))) "
        f"ELSE array(lower({t})) END))[0]"
    )


def shingles_expr(text_col: str, k: int = 3) -> Column:
    """Distinct k-word shingles as an array<string> — SQL-expr form so the
    lambda can use slice() with a column start offset."""
    return F.expr(_shingles_sql(text_col, k))


def shingle_digests_expr(text_col: str, k: int = 3) -> Column:
    """Distinct 64-bit xxhash64 digests of the k-word shingles — the
    TEXT-FREE verify representation (round 10). Jaccard/containment over
    digest SETS equals the shingle-set value except when two distinct
    shingles of the same pair's union collide: E[collisions per pair]
    ≈ C(|A∪B|, 2)/2^64 ≈ 2e-13 for 1k-shingle docs — negligible at any
    corpus scale. The win: the verify pair-join shuffles fixed 8-byte
    longs instead of shingle strings (~4-6× smaller rows; the 5M-doc
    stress corpus's verify shuffle dropped ~10×, SCALE.md)."""
    return F.expr(
        f"array_distinct(transform({_shingles_sql(text_col, k)}, s -> xxhash64(s)))"
    )


def portable_shingle_digests_sql(text_col: str, k: int = 3) -> str:
    """Portable (md5-56-bit mod P) flavor of shingle_digests_expr — the
    same digest family the portable MinHash signatures use, so a DuckDB
    oracle replays digest-set Jaccard bit-for-bit. P = 2^31-1 makes
    within-pair collisions ~C(n,2)/2^31 (≈2e-4 for 1k-shingle unions);
    the oracle computes over the SAME digests, so parity is exact even
    when a collision perturbs the value."""
    return f"array_distinct({portable_shingle_hash_sql(_shingles_sql(text_col, k))})"


def _verify_sets(df: DataFrame, text_col: str, id_col: str, k: int,
                 digest: str | None) -> DataFrame:
    """(id, sh) verify-side per-doc set: shingle strings (digest=None,
    exact), xxhash64 digests ('xxhash64', production) or portable md5
    digests ('portable', oracle-replayable)."""
    if digest is None:
        return df.select(F.col(id_col), shingles_expr(text_col, k).alias("sh"))
    if digest == "xxhash64":
        return df.select(F.col(id_col), shingle_digests_expr(text_col, k).alias("sh"))
    if digest == "portable":
        return df.select(
            F.col(id_col), F.expr(portable_shingle_digests_sql(text_col, k)).alias("sh")
        )
    raise ValueError(f"digest must be None|'xxhash64'|'portable', got {digest!r}")


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       num_hashes: int = 16, k: int = 3) -> DataFrame:
    """(id, sig array<long>): sig[j] = min over shingles of
    xxhash64(xxhash64(shingle), seed=j) (double-hashing MinHash: the
    variable-length string is hashed once, per-seed values re-hash the
    8-byte long).

    Formulated as explode → whole-stage-codegen'd hash → 16 min() partial
    aggregates, NOT as a higher-order aggregate()/zip_with fold over the
    shingle array: lambda evaluation is interpreted row-at-a-time (~3x
    slower on the bench), while explode + min() stays inside codegen and
    combines map-side. The added shuffle carries (id, 16 longs) per doc —
    ~0.1% of the text size, the same budget as the LSH band shuffle that
    follows it.
    """
    ex = df.select(
        F.col(id_col), F.explode(F.expr(_shingles_sql(text_col, k))).alias("__s")
    ).select(F.col(id_col), F.xxhash64("__s").alias("__h"))
    aggs = [
        F.min(F.xxhash64(F.col("__h"), F.lit(j))).alias(f"__m{j}")
        for j in range(num_hashes)
    ]
    return (
        ex.groupBy(id_col)
        .agg(*aggs)
        .select(
            F.col(id_col), F.array(*[f"__m{j}" for j in range(num_hashes)]).alias("sig")
        )
    )


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        bands: int = 4, rows_per_band: int = 4,
                        max_bucket_size: int | str | None = None) -> DataFrame:
    """Band the signature, bucket-join: docs sharing any full band become a
    candidate pair. Returns (id_a, id_b) with id_a < id_b, distinct.

    The self-join is per (band, bucket) group — at scale the bucket key is
    high-cardinality so the shuffle is well distributed. The hazard is a
    DEGENERATE bucket: B distinct docs sharing one band emit C(B,2)
    candidates, and AQE's skew split distributes that join work but cannot
    shrink its output — the quadratic blowup is intrinsic to all-pairs.
    Exact-dup pre-collapse (near_dup_clusters) removes the common cause
    (identical texts), but distinct-yet-near-identical corpora (template
    spam, boilerplate) can still build one (measured in
    scripts/scale_stress.py --lsh-megabucket).

    ``max_bucket_size`` is the batch twin of the streaming state_cap
    (streaming/stateful.py): buckets at or under the cap do exact
    all-pairs as before; an over-cap bucket falls back to a sorted-id
    CHAIN — consecutive members only, O(B) pairs instead of O(B²).
    Recall semantics, documented: within an over-cap bucket, direct
    pairwise recall drops (only consecutive links are attempted, and a
    failed verify can cut a chain where all-pairs would have bridged),
    but CLUSTER-level recall through the connected-components stage is
    preserved whenever consecutive members verify — exactly the
    near-identical-content case that makes a bucket that big in the
    first place. Deterministic: the chain orders by id.
    """
    banded = signatures.select(
        id_col,
        F.posexplode(
            F.array(*[
                F.xxhash64(F.concat_ws(",", *[
                    F.col("sig")[b * rows_per_band + r].cast("string") for r in range(rows_per_band)
                ])) for b in range(bands)
            ])
        ).alias("band", "bucket"),
    ).distinct()
    return _bucket_pairs(banded, id_col, max_bucket_size)


def _bucket_pairs(banded: DataFrame, id_col: str,
                  max_bucket_size: int | str | None) -> DataFrame:
    """(id_a, id_b) distinct canonical pairs from (id, band, bucket) rows —
    the shared kernel of the xxhash64 and portable banding paths: all-pairs
    per bucket, with the over-cap chain fallback documented on
    lsh_candidate_pairs.

    ``max_bucket_size="auto"`` (r12 verdict item 6) derives the cap from
    the bucket-size histogram instead of requiring the operator to know
    about degenerate buckets in advance: cap = max(16, 8 × the exact
    p99.9 of bucket sizes), computed as ONE extra aggregate over the
    already-materialized banded frame and broadcast-joined back — never a
    driver scalar. The generous headroom (8× the near-top quantile,
    floor 16) means auto NEVER fires on a healthy corpus — natural
    buckets are a handful of docs, so the cap lands far above them and
    the emitted pairs are byte-identical to uncapped (pinned by test) —
    while a planted boilerplate mega-bucket sits orders of magnitude
    above any quantile and falls to the O(B) chain. At 100 TB the
    bucket-size frame has ~4×corpus rows, so swap the exact sort-based
    `percentile` for `approx_percentile` (same GK swap, and the same
    one-line change, documented on perplexity_buckets)."""
    if max_bucket_size is not None:
        # materialize the narrow (id, band, bucket) frame once: the capped
        # form consumes it from FOUR branches (sizes, both all-pairs join
        # sides, chain) and each would otherwise re-plan — and at scale
        # re-EXECUTE — the whole shingle/signature pipeline (measured 6
        # corpus scans on the registered query; test_plan_scan_budget
        # pins 1). The uncapped path keeps its lazy two-branch shape,
        # whose identical subtrees end in one reusable exchange.
        banded = truncate_lineage(banded)
        sizes = banded.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("__bsz")
        )
        if max_bucket_size == "auto":
            cap_frame = sizes.agg(
                F.greatest(
                    F.lit(16).cast("long"),
                    (F.expr("percentile(__bsz, 0.999)") * 8).cast("long"),
                ).alias("__cap")
            )
            sizes = sizes.crossJoin(F.broadcast(cap_frame))
            cap_col = F.col("__cap")
            drop_cols = ("__bsz", "__cap")
        elif isinstance(max_bucket_size, str):
            raise ValueError(
                f"max_bucket_size must be an int, None, or 'auto'; "
                f"got {max_bucket_size!r}"
            )
        else:
            # literal cap: same plan shape as before auto existed — the
            # registered capped query's plan stays byte-identical
            cap_col = F.lit(int(max_bucket_size))
            drop_cols = ("__bsz",)
        banded = banded.join(sizes, ["band", "bucket"])
        small = banded.filter(F.col("__bsz") <= cap_col).drop(*drop_cols)
        # chain the (few) over-cap buckets: one sort window per bucket —
        # O(B log B) in one task per mega-bucket, never O(B²) pairs
        over_w = Window.partitionBy("band", "bucket").orderBy(id_col)
        chain = (
            banded.filter(F.col("__bsz") > cap_col)
            .withColumn("__nxt", F.lead(id_col).over(over_w))
            .filter(F.col("__nxt").isNotNull())
            .select(
                F.col(id_col).alias("id_a"), F.col("__nxt").alias("id_b")
            )
        )
    else:
        small, chain = banded, None
    a = small.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = small.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if chain is not None:
        pairs = pairs.unionByName(chain)
    return pairs.distinct()


def jaccard_pairs(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 3,
                  digest: str | None = None) -> DataFrame:
    """Exact k-shingle Jaccard for given (id_a, id_b) pairs — the verify
    stage after LSH candidate generation.

    digest=None verifies over shingle STRINGS (exact); 'xxhash64' /
    'portable' verify over digest sets (see shingle_digests_expr) — the
    text-free form the at-scale pipelines use so the pair join never
    shuffles strings."""
    sh = _verify_sets(df, text_col, id_col, k, digest)
    out = (
        pairs.join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return out.select(
        "id_a", "id_b",
        (inter.cast("double") / union.cast("double")).alias("jaccard"),
    )


def minhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  threshold: float = 0.8, num_hashes: int = 16,
                  bands: int = 4, rows_per_band: int = 4, k: int = 3,
                  max_bucket_size: int | str | None = None) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → exact Jaccard
    filter ≥ threshold. Returns verified duplicate pairs (id_a < id_b).

    Verification runs over xxhash64 digest sets (r10): the pair join
    shuffles 8-byte longs, never shingle strings — same Jaccard up to a
    ~2e-13/pair collision bound (shingle_digests_expr).

    `max_bucket_size` bounds degenerate LSH buckets (see
    lsh_candidate_pairs) — the knob a 100 TB run of a boilerplate-heavy
    corpus sets after exact-dup pre-collapse."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, k)
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band, max_bucket_size)
    return (
        jaccard_pairs(df, cands, text_col, id_col, k, digest="xxhash64")
        .filter(F.col("jaccard") >= threshold)
    )


# --- portable MinHash (oracle-checkable) ------------------------------------
# xxhash64 is JVM-only; this variant builds the SAME pipeline on a
# polynomial rolling hash + universal-hash seeding — pure 64-bit integer
# arithmetic that any SQL engine reproduces bit-for-bit. Production uses
# the xxhash64 path (faster, better dispersion); this one pins the
# pipeline's correctness against the DuckDB oracle end-to-end.

PORTABLE_P = 2_147_483_647  # 2^31-1: acc*31+code stays far inside int64


def portable_shingle_hash_sql(shingles_sql: str) -> str:
    """array<long>: md5-derived 56-bit hash of each shingle, mod P
    (Spark SQL).

    Replaced the per-character polynomial rolling hash: that form cost one
    interpreted lambda step per CHARACTER (nested HOFs — ~3× text length
    per doc), which dominated the whole LSH pipeline. md5 is a JVM
    intrinsic here and vectorized C++ in DuckDB, and both engines parse
    the same 14 hex chars to the same integer (conv(...,16,10) here,
    ('0x'||...)::BIGINT there), so oracle parity is exact.
    """
    return (
        f"transform({shingles_sql}, "
        f"s -> CAST(conv(substr(md5(s), 1, 14), 16, 10) AS BIGINT) % {PORTABLE_P})"
    )


def portable_minhash_sql(text_col: str, num_hashes: int = 8, k: int = 3) -> str:
    """array<long> signature: sig[j] = min over shingles of
    (a_j*h + b_j) mod P with a_j = 2j+1, b_j = 97j+13 (Spark SQL)."""
    hashes = portable_shingle_hash_sql(_shingles_sql(text_col, k))
    return (
        f"aggregate({hashes}, "
        f"array_repeat(CAST({PORTABLE_P} AS BIGINT), {num_hashes}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {num_hashes - 1}), "
        f"(a, j) -> least(a, ((2 * j + 1) * h + 97 * j + 13) % {PORTABLE_P})))"
    )


def portable_band_buckets_sql(sig_col: str, bands: int = 4, rows_per_band: int = 2,
                              one_based: bool = False) -> str:
    """array<long> of `bands` bucket ids: rolling combine of each band's
    signature rows. `sig_col` is an array column NAME; `one_based` emits
    1-based element access (DuckDB) instead of 0-based (Spark)."""
    buckets = []
    for b in range(bands):
        acc = "CAST(0 AS BIGINT)"
        for r in range(rows_per_band):
            idx = b * rows_per_band + r + (1 if one_based else 0)
            acc = f"(({acc} * 31 + {sig_col}[{idx}]) % {PORTABLE_P})"
        buckets.append(acc)
    ctor = "list_value" if one_based else "array"  # DuckDB vs Spark SQL
    return f"{ctor}({', '.join(buckets)})"


def portable_lsh_candidates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                            num_hashes: int = 8, bands: int = 4, rows_per_band: int = 2,
                            k: int = 3, max_bucket_size: int | str | None = None) -> DataFrame:
    """(id_a, id_b) candidate pairs from portable-MinHash banding — the
    scale-side pair source for any pairwise verifier (Jaccard, containment).

    Banding picks the sensitivity curve: collision prob = 1-(1-j^r)^b.
    Jaccard-dedup uses (b=4, r=2); CONTAINMENT wants candidates whose
    symmetric Jaccard is LOW (a short doc quoted inside a long one), so
    pass (b=num_hashes, r=1) — 1-(1-j)^8 still fires often at j≈0.2 where
    the (4,2) curve has gone cold. Only (id, band, bucket) rows shuffle;
    text never does.
    """
    # Signature form A/B'd at sf0.1 AND on the 500k-doc stress corpus: the
    # in-expression aggregate()/zip_with fold and an explode → 8 min-agg
    # rewrite time within noise of each other (14.4 vs 13.9 s at 500k;
    # the explode form adds a shuffle stage that costs ~0.5 s at bench
    # SF), so the zero-shuffle expression form stays. The md5 shingle
    # hash is what made both cheap — see portable_shingle_hash_sql.
    sigs = df.select(
        F.col(id_col), F.expr(portable_minhash_sql(text_col, num_hashes, k)).alias("__sig")
    )
    banded = sigs.select(
        id_col,
        F.posexplode(
            F.expr(portable_band_buckets_sql("__sig", bands, rows_per_band))
        ).alias("band", "bucket"),
    ).distinct()
    return _bucket_pairs(banded, id_col, max_bucket_size)


def containment_for_pairs(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 3,
                          contained_threshold: float = 0.8,
                          digest: str | None = None) -> DataFrame:
    """Asymmetric shingle containment |A∩B|/|A| and /|B| for given
    (id_a, id_b) pairs — catches subset/quote relationships that symmetric
    Jaccard under-scores. Returns (id_a, id_b, containment_a,
    containment_b, is_contained). `digest` as in jaccard_pairs: digest-set
    containment keeps the pair join text-free at scale."""
    sh = _verify_sets(df, text_col, id_col, k, digest)
    j = (
        pairs.join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    ca = inter / F.size("sh_a").cast("double")
    cb = inter / F.size("sh_b").cast("double")
    return j.select(
        "id_a", "id_b", ca.alias("containment_a"), cb.alias("containment_b"),
        ((ca >= contained_threshold) | (cb >= contained_threshold)).alias("is_contained"),
    )


def portable_minhash_near_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                               threshold: float = 0.5, num_hashes: int = 8,
                               bands: int = 4, rows_per_band: int = 2, k: int = 3,
                               max_bucket_size: int | str | None = None) -> DataFrame:
    """Near-dup pairs with exact-Jaccard verification — identical pipeline
    shape to `minhash_dedup`, portable hashes. Returns (id_a, id_b,
    jaccard) with id_a < id_b.

    Verification runs over portable md5 digest sets (r10): text never
    crosses an exchange — the verify join shuffles (id, array<long>)
    only, and the DuckDB oracle replays the SAME digests, so parity is
    exact even on the rare mod-2^31 collision."""
    cands = portable_lsh_candidates(df, text_col, id_col, num_hashes, bands,
                                    rows_per_band, k, max_bucket_size)
    return (
        jaccard_pairs(df, cands, text_col, id_col, k, digest="portable")
        .filter(F.col("jaccard") >= threshold)
    )


def near_dup_clusters(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      threshold: float = 0.5,
                      max_bucket_size: int | str | None = None,
                      carry: dict[str, Column] | None = None) -> DataFrame:
    """(doc_id, cluster) near-dup cluster membership with exact-dup
    pre-collapse — the scale-critical ordering for dup-heavy corpora.

    `carry` (r13, guide §2.4): optional {name: Column} expressions over the
    doc row, evaluated inside the member-map scan and appended to the
    output — a consumer needing per-doc derived columns (e.g. a quality
    score) alongside the cluster id gets them from the SAME scan instead
    of re-scanning the corpus and joining on the id. Values are identical
    to computing the expression separately by construction; omitting it
    leaves the plan unchanged.

    Running LSH directly on a corpus where exact duplicates are common
    emits C(m,2) candidate pairs per m-member identical group (identical
    text → identical signature → same bucket): the skewed scale-stress
    corpus (scripts/scale_stress.py, 50-member groups + one 1,000-member
    group) drives that to millions of pairs and ~14 GB of shuffle. Instead:

      1. collapse exact dups to one min-id representative per text digest
         (one keyed shuffle of 16-byte digests);
      2. LSH + exact-Jaccard verification over representatives only —
         identical docs contribute ONE node, so the per-group pair blowup
         disappears while cross-group near-dup pairs are unchanged
         (identical text ⇒ identical signature ⇒ identical banding);
      3. connected components over the representative pair graph;
      4. map members back through their digest.

    Cluster ids are invariant under the collapse: each member's id ≥ its
    representative's id (rep = min of the digest group), so min-over-
    members == min-over-representatives for every component — the output
    matches the direct member-level pair/CC computation row-for-row, and
    the cluster-level oracles (recursive-CTE min-label propagation over
    member-level pairs) stay valid.

    NULL text coalesces to '' for the digest, mirroring _shingles_sql: all
    null/empty docs form one exact group and stay in the universe.

    r13 (guide §2.2/§2.6): the MinHash signature AND the verify digest set
    are computed MAP-SIDE, before the exact-dup exchange, from ONE shared
    shingle/md5 pass, then carried through the groupBy as min_by
    aggregates. Identical text ⇒ identical signature/digests, so the
    group's min-id member contributes exactly the values the old
    compute-over-representatives form produced (pinned bit-identical by
    test). Two structural wins over signing rep texts post-exchange:
    text never crosses the wire (the shuffle carries 8 sig longs + the
    8-byte digest set, never strings), and the expensive shingle pass
    keeps the SCAN's parallelism — AQE sizes the coalesced groupBy
    output by shuffle bytes, not downstream compute, and on the bench
    corpus collapsed it to ONE partition, serializing the whole
    signature stage (measured 1.6 s single-core vs 0.3 s at scan
    parallelism for identical values).
    """
    from eve_graph_spark.operators.graph_analytics import connected_components

    num_hashes, bands, rows_per_band, k = 8, 4, 2, 3
    digest = F.md5(F.encode(F.coalesce(F.col(text_col), F.lit("")), "utf-8"))
    # Driver-local branch (r14, guide §5.3/§1.2 — r13 verdict item 6):
    # below the threshold, ONE scan computes (id, digest, sig, sh, carry…)
    # with the SAME engine expressions (text/digest parity is Spark's, not
    # Python's), one collect brings it to the driver, and everything after
    # — banding, bucket pairs, digest-set Jaccard, connected components,
    # member map — is exact integer/double arithmetic replayed in Python
    # (band fold `(acc·31+sig) % P` < 2^36, set sizes are ints, the one
    # double division per pair is the same IEEE op). Replaces ~18 driver
    # jobs (2 lineage barriers, a persist, 6+ exchanges, the CC loop)
    # with one collect. Applies only to the UNCAPPED path the registered
    # pipeline queries use — max_bucket_size adds the quantile-cap logic,
    # whose exact-percentile replication isn't worth owning twice.
    # fits_driver respects SPARK_GRAFT_FORCE_DISTRIBUTED (the bench's
    # distributed arm still times the full pipeline below).
    if max_bucket_size is None:
        from eve_graph_spark.operators.graph import fits_driver

        if fits_driver(docs.select(F.col(id_col)), NEAR_DUP_DRIVER_MAX_DOCS):
            local = _near_dup_clusters_local(
                docs, text_col, id_col, threshold, carry,
                num_hashes, bands, rows_per_band, k,
            )
            if local is not None:
                return local
    # sig + verify set from one let-bound hash array (one md5 pass per doc
    # instead of the old pipeline's separate signature and verify-set
    # passes over the representative text)
    hs = portable_shingle_hash_sql(_shingles_sql(text_col, k))
    sig_sh = F.expr(
        f"transform(array({hs}), __hs -> struct("
        f"aggregate(__hs, array_repeat(CAST({PORTABLE_P} AS BIGINT), {num_hashes}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {num_hashes - 1}), "
        f"(a, j) -> least(a, ((2 * j + 1) * h + 97 * j + 13) % {PORTABLE_P}))) AS sig, "
        f"array_distinct(__hs) AS sh))[0]"
    )
    pre = docs.select(F.col(id_col), digest.alias("__dg"), sig_sh.alias("__ss")).select(
        id_col, "__dg", F.col("__ss.sig").alias("__sig"), F.col("__ss.sh").alias("__sh")
    )
    # All three pair-stage consumers (banding + verify a/b) end in this
    # SAME groupBy exchange — ReuseExchange computes it once (the reason
    # reps is not persisted; see the 500k-doc A/B note in git history).
    reps = pre.groupBy("__dg").agg(
        F.min(id_col).alias("__rep"),
        F.min_by("__sig", F.col(id_col)).alias("__sig"),
        F.min_by("__sh", F.col(id_col)).alias("__sh"),
    )
    banded = reps.select(
        F.col("__rep").alias(id_col),
        F.posexplode(
            F.expr(portable_band_buckets_sql("__sig", bands, rows_per_band))
        ).alias("band", "bucket"),
    ).distinct()
    cands = _bucket_pairs(banded, id_col, max_bucket_size)
    sh = reps.select(F.col("__rep").alias(id_col), F.col("__sh").alias("sh"))
    verify = (
        cands.join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    pairs = verify.filter(
        (inter.cast("double") / union.cast("double")) >= threshold
    ).select("id_a", "id_b")
    sym = pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d")).union(
        pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d"))
    )
    # CC evaluates its input at least twice (size probe + solve); persist so
    # the MinHash pipeline doesn't rerun per evaluation.
    sym = sym.persist()
    try:
        # default algorithm="auto": min-label with a superstep budget,
        # switching to star contraction if unconverged — a chain-shaped
        # dup topology (doc i near-dups doc i+1) has diameter O(corpus)
        # and must not drag this stage into the O(diameter) regime
        # (r6 verdict item 4)
        cc = connected_components(sym, src_col="s", dst_col="d")
        cc = cc.transform(truncate_lineage)
    finally:
        sym.unpersist()
    # No broadcast hints anywhere below: rep→cluster and member→rep are
    # O(corpus) at crawl scale — keyed shuffle joins, AQE may still
    # broadcast when genuinely small.
    rep_cluster = reps.join(cc, reps["__rep"] == cc["node"], "left").select(
        "__dg", F.coalesce("component", "__rep").alias("cluster")
    )
    # member map re-derives the digest from a fresh narrow scan (one md5
    # per doc — cheap next to the shingle pass, and projection pruning
    # keeps __ss out of this subtree); carry columns ride the same scan
    carry = carry or {}
    members = docs.select(
        F.col(id_col), digest.alias("__dg"),
        *[c.alias(n) for n, c in carry.items()],
    )
    return members.join(rep_cluster, "__dg").select(id_col, "cluster", *carry.keys())


#: Most docs near_dup_clusters hands to its driver branch.
NEAR_DUP_DRIVER_MAX_DOCS = 20_000
#: Most bucket pairs, summed over every band's buckets, the driver branch
#: enumerates (about the pairs of one 2,000-representative bucket).
_LOCAL_MAX_PAIRS = 2_000_000


def _near_dup_clusters_local(docs: DataFrame, text_col: str, id_col: str,
                             threshold: float, carry: dict[str, Column] | None,
                             num_hashes: int, bands: int, rows_per_band: int,
                             k: int) -> DataFrame | None:
    """near_dup_clusters' ≤NEAR_DUP_DRIVER_MAX_DOCS branch (uncapped path
    only): the text-derived values (digest, signature, verify set, carry
    expressions) come from ONE engine scan — so string semantics are
    Spark's, bit-identical to the distributed path — and the pair/CC
    stages are integer/double arithmetic replayed in Python. See the
    call-site comment for the parity argument. Returns None to decline
    (more than _LOCAL_MAX_PAIRS bucket pairs in all) — the caller then
    runs the distributed path."""
    from pyspark.sql import types as T

    carry = carry or {}
    digest = F.md5(F.encode(F.coalesce(F.col(text_col), F.lit("")), "utf-8"))
    hs = portable_shingle_hash_sql(_shingles_sql(text_col, k))
    sig_sh = F.expr(
        f"transform(array({hs}), __hs -> struct("
        f"aggregate(__hs, array_repeat(CAST({PORTABLE_P} AS BIGINT), {num_hashes}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {num_hashes - 1}), "
        f"(a, j) -> least(a, ((2 * j + 1) * h + 97 * j + 13) % {PORTABLE_P}))) AS sig, "
        f"array_distinct(__hs) AS sh))[0]"
    )
    flat = docs.select(
        F.col(id_col), digest.alias("__dg"), sig_sh.alias("__ss"),
        *[c.alias(n) for n, c in carry.items()],
    ).select(
        id_col, "__dg", F.col("__ss.sig").alias("__sig"),
        F.col("__ss.sh").alias("__sh"), *carry.keys(),
    )
    rows = flat.collect()
    out_fields = [
        flat.schema[id_col],
        T.StructField("cluster", T.LongType(), True),
        *[flat.schema[n] for n in carry],
    ]
    out_schema = T.StructType(out_fields)
    spark = docs.sparkSession
    if not rows:
        return local_frame(spark, [], out_schema)
    # exact-dup collapse: min-id representative per digest; identical text
    # => identical sig/sh, so the rep's are the group's (same min_by rule)
    rep_of: dict[str, int] = {}
    rep_row: dict[str, object] = {}
    for r in rows:
        dg, i = r["__dg"], r[id_col]
        if dg not in rep_of or i < rep_of[dg]:
            rep_of[dg], rep_row[dg] = i, r
    # banding: rolling (acc*31 + sig[idx]) % P per band — exact int math
    buckets: dict[tuple[int, int], list[int]] = {}
    for dg, r in rep_row.items():
        sig = r["__sig"]
        rid = rep_of[dg]
        for b in range(bands):
            acc = 0
            for j in range(rows_per_band):
                acc = (acc * 31 + sig[b * rows_per_band + j]) % PORTABLE_P
            buckets.setdefault((b, acc), []).append(rid)
    if sum(len(m) * (len(m) - 1) // 2 for m in buckets.values()) > _LOCAL_MAX_PAIRS:
        # all-pairs is quadratic in bucket size: a corpus of case variants
        # of a few texts puts each group's representatives in one bucket
        # of every band (~2e8 driver-side pairs at 20k docs)
        return None
    sh_of = {rep_of[dg]: set(r["__sh"]) for dg, r in rep_row.items()}
    cand: set[tuple[int, int]] = set()
    for members in buckets.values():
        if len(members) < 2:
            continue
        ms = sorted(set(members))
        for i in range(len(ms) - 1):
            for j in range(i + 1, len(ms)):
                cand.add((ms[i], ms[j]))
    thr = float(threshold)
    # verify: digest-set Jaccard, one double division per pair (same IEEE)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in cand:
        sa, sb = sh_of[a], sh_of[b]
        inter = len(sa & sb)
        union = len(sa) + len(sb) - inter
        if float(inter) / float(union) >= thr:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    # component label = min member (the min-label CC contract); reps not
    # in any verified pair keep themselves (the left-join coalesce)
    cluster_of = {dg: find(rid) for dg, rid in rep_of.items()}
    out = [
        tuple([r[id_col], cluster_of[r["__dg"]], *[r[n] for n in carry]])
        for r in rows
    ]
    return local_frame(spark, out, out_schema)


def portable_simhash_sql(text_col: str, bits: int = 31, k: int = 2) -> str:
    """Portable SimHash (Spark SQL string): the same vote-accumulator shape
    as `simhash_expr` but over the 31-bit polynomial shingle hash, so a SQL
    oracle reproduces it bit-for-bit (xxhash64 is JVM-only)."""
    hashes = portable_shingle_hash_sql(_shingles_sql(text_col, k))
    votes = (
        f"aggregate({hashes}, array_repeat(CAST(0 AS BIGINT), {bits}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {bits - 1}), "
        f"(a, b) -> a + 2 * (shiftright(h, b) & 1) - 1))"
    )
    return (
        f"aggregate(zip_with({votes}, sequence(0, {bits - 1}), "
        f"(v, b) -> CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), b) "
        f"ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (acc, x) -> acc | x)"
    )


def simhash_expr(text_col: str, bits: int = 64, k: int = 2) -> Column:
    """64-bit SimHash: per-shingle xxhash64, each bit votes ±1, sign of the
    vote sum is the signature bit.

    ONE pass over the shingle array with an array<long> vote accumulator
    (one counter per bit), then one fold packs the signs into the signature.
    The naive form — `bits` separate aggregate() calls each embedding the
    shingle expression — re-shingles the doc 64× per row and produces a
    codegen tree that runs ~50× slower.
    """
    votes = (
        f"aggregate(transform({_shingles_sql(text_col, k)}, s -> xxhash64(s)), "
        f"array_repeat(CAST(0 AS BIGINT), {bits}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {bits - 1}), "
        f"(a, b) -> a + 2 * (shiftright(h, b) & 1) - 1))"
    )
    return F.expr(
        f"aggregate(zip_with({votes}, sequence(0, {bits - 1}), "
        f"(v, b) -> CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), b) "
        f"ELSE CAST(0 AS BIGINT) END), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc | x)"
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 5,
    digest_hex_chars: int | None = 14,
) -> DataFrame:
    """Cross-document exact duplicate-span detection (the Lee et al. 2022
    "Deduplicating Training Data" substring-dedup analog, re-expressed
    relationally; kernel of the `duplicate_text_spans` query).

    Every word position whose `ngram`-gram occurs in >= 2 DISTINCT docs is
    duplicated; adjacent duplicated positions merge into maximal spans via
    the islands trick (pos - row_number). Returns
    (doc_id, span_start, span_end, n_shingles).

    `digest_hex_chars` is the widen-on-demand knob for the digest that
    shuffles in place of the n-gram text (ADVICE r5): each position row
    carries conv(substr(md5(gram), 1, C), 16, 10) — C=14 hex chars = 56
    bits (the default; always positive in a signed long), C=15 = 60 bits
    is the widest single-long form. `None` shuffles the full 128-bit md5
    hex string instead — zero practical false positives at ~4x the
    shuffle bytes (32-byte strings vs 8-byte longs). False-positive math
    for the long forms is stated in SCALE.md ("Span-digest false-positive
    bound"): with P total positions and D digest bits, expected
    falsely-duplicated position PAIRS ~ P^2 / 2^(D+1) — at the 100 TB
    corpus (P ~ 1e13, D=56) that is ~7e8 pairs, i.e. ~1e-4 of positions
    gaining a spurious 5-word span; widen to C=None when curating with
    cut-spans (where a false span destroys real text) rather than
    flag-and-review.
    """
    digest_sql = (
        f"md5(concat_ws(' ', slice(ws, i + 1, {ngram})))"
        if digest_hex_chars is None
        else (
            f"CAST(conv(substr(md5(concat_ws(' ', slice(ws, i + 1, {ngram}))), "
            f"1, {digest_hex_chars}), 16, 10) AS BIGINT)"
        )
    )
    words = df.select(
        id_col, F.split(F.lower(F.coalesce(text_col, F.lit(""))), " ").alias("ws")
    ).filter(F.size("ws") >= ngram)
    pos_sh = words.select(
        id_col,
        F.posexplode(
            F.expr(f"transform(sequence(0, size(ws) - {ngram}), i -> {digest_sql})")
        ).alias("pos", "digest"),
    ).select(id_col, F.col("pos").cast("long").alias("pos"), "digest")
    dup_digests = (
        pos_sh.groupBy("digest")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("digest")
    )
    iw = Window.partitionBy(id_col).orderBy("pos")
    dup_pos = pos_sh.join(dup_digests, "digest").select(
        id_col, "pos", (F.col("pos") - F.row_number().over(iw)).alias("grp")
    )
    return (
        dup_pos.groupBy(id_col, "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + ngram - 1).alias("span_end"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        .select(id_col, "span_start", "span_end", "n_shingles")
    )


# --- semantic (embedding-space) dedup ----------------------------------------

SEMDEDUP_FP = 10**9  # fixed-point scale for the pairwise dot/norm integers
SEMDEDUP_DRIVER_MAX_ROWS = 10_000  # below this, semantic_dedup runs on the driver


def semantic_dedup(embeddings: DataFrame, k: int = 4, iterations: int = 2,
                   tau: float = 0.3, id_col: str = "vec_id",
                   vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    drop documents whose cosine to a kept in-cluster neighbor exceeds
    `tau` — semantic near-duplicates that MinHash/SimHash (surface-form
    dedup) cannot see. Returns one row per embedded doc:
    (id, cluster, n_close, kept) where n_close counts in-cluster
    neighbors with cosine >= tau and kept is False iff a SMALLER-id
    in-cluster neighbor sits within tau (deterministic keep-first, the
    convention every dedup operator here uses).

    Scale shape — the reason SemDeDup clusters first: pair enumeration is
    per-cluster (Σ|c|² instead of n²), and the cluster count is the knob
    that bounds it (k ≈ n/target_cluster_size at 100 TB; k=4 on the
    500-vector fixture). The kmeans stage is the deterministic
    fixed-point Lloyd's from operators/clustering.py (its own oracle);
    pairs join on the cluster key — hash-partitioned, no broadcast of the
    corpus — and each pair's cosine is one zip_with/aggregate over the
    two vectors with the same 1e-9 fixed-point integers the ANN oracles
    pin, so the SQL replay is bit-exact.

    `tau` is corpus-calibrated: real SemDeDup uses ~0.95+ on web-scale
    embeddings; the synthetic fixture's in-cluster cosines top out at
    ~0.51, so the registered query pins tau=0.3 (99th percentile) to keep
    the dup/kept branch exercised on real rows.
    """
    from eve_graph_spark.operators.clustering import kmeans_assign

    emb = embeddings.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    ).select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # Driver-local branch (r14, guide §5.3/§1.2 — r13 verdict item 6):
    # below the threshold the WHOLE pipeline (Lloyd fit, assignment, pair
    # kernel, n_close/kept) runs from ONE collect of (id, vec), replacing
    # the fit collect + two lineage barriers + the Arrow pair kernel +
    # two join exchanges with driver numpy. Bit-parity with the
    # distributed path (pinned by test):
    #   - fv = floor(double(x)·1e6 + 0.5): float→double widening is exact
    #     and numpy runs the same IEEE ops as the codegen expression;
    #   - fit/assign: the same int64 (dist·k + c) encode as
    #     _kmeans_fit_local / _assign_expr (argmin first-minimum ≡ least);
    #   - pair kernel: the same expressions _close_pairs runs per cluster
    #     (floor products are integers < 2^53, so sums are order-exact);
    #   - n_close/kept: plain counting, same keep-first rule.
    # The threshold is 10k (not the 200k row-count cutover other kernels
    # use) because the pair stage is Σ|c|² — the bound must keep a
    # worst-case single-cluster quadratic kernel driver-affordable.
    # fits_driver respects SPARK_GRAFT_FORCE_DISTRIBUTED.
    from eve_graph_spark.operators.graph import fits_driver

    if fits_driver(emb, SEMDEDUP_DRIVER_MAX_ROWS):
        local = _semantic_dedup_local(emb, k, iterations, tau)
        if local is not None:  # declines on NaN/Inf vectors or NULL ids
            return local
    # Materialize the narrow (id, cluster) assignment once: it feeds THREE
    # downstream branches (pair kernel, n_close join, final output) and
    # Catalyst plans each branch's corpus scan independently — without the
    # barrier the registry scan-budget test counts 7 embedding scans.
    assign = truncate_lineage(
        kmeans_assign(
            embeddings, k=k, iterations=iterations, id_col=id_col,
            vec_col=vec_col, dim=dim,
        ).select(F.col("id"), F.col("cluster"))
    )
    av = assign.join(emb, "id")
    # Per-cluster vectorized pair kernel (applyInPandas): a SQL pair join
    # materializes both 64-float vectors per pair row (Σ|c|² × 128
    # doubles) and folds a higher-order zip_with per pair — measured 12+ s
    # at sf0.1. The Arrow kernel ships each cluster's matrix ONCE and
    # does the same fixed-point math batched in numpy: every term
    # (floor(x·y·1e9 + 0.5), int sums < 2^53, sqrt, divide) is the same
    # IEEE-754 double op sequence as the SQL oracle, so parity holds
    # bit-for-bit. Cluster-fits-in-worker-memory is the SemDeDup contract
    # (k is the knob: k ≈ n/target_cluster_size).
    import pandas as pd  # noqa: F401 — applyInPandas surface

    fp_scale = float(SEMDEDUP_FP)
    tau_v = float(tau)

    def _close_pairs(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.stack([np.asarray(v, dtype=np.float64)
                        for v in pdf["vec"].to_numpy()[order]])
        nrm = np.sqrt(np.floor(mat * mat * fp_scale + 0.5).sum(axis=1) / fp_scale)
        out_a: list[int] = []
        out_b: list[int] = []
        for i in range(len(ids) - 1):
            dot = np.floor(mat[i + 1:] * mat[i] * fp_scale + 0.5).sum(axis=1) / fp_scale
            cos = dot / (nrm[i] * nrm[i + 1:])
            hit = np.nonzero(cos >= tau_v)[0]
            out_a.extend([int(ids[i])] * len(hit))
            out_b.extend(int(ids[i + 1 + j]) for j in hit)
        return pd.DataFrame({"ia": pd.Series(out_a, dtype="int64"),
                             "ib": pd.Series(out_b, dtype="int64")})

    # close pairs are tiny (near-dups only) and consumed twice (n_close +
    # keep-first drop) — materialize so the Arrow kernel runs once
    pairs = truncate_lineage(
        av.groupBy("cluster").applyInPandas(_close_pairs, "ia long, ib long")
    )
    n_close = (
        pairs.select(F.col("ia").alias("id"))
        .unionAll(pairs.select(F.col("ib").alias("id")))
        .groupBy("id").agg(F.count(F.lit(1)).alias("n_close"))
    )
    dups = pairs.select(F.col("ib").alias("id")).distinct().withColumn(
        "__dup", F.lit(True)
    )
    return (
        assign.join(n_close, "id", "left").join(dups, "id", "left")
        .select(
            "id", "cluster",
            F.coalesce(F.col("n_close"), F.lit(0)).cast("long").alias("n_close"),
            (~F.coalesce(F.col("__dup"), F.lit(False))).alias("kept"),
        )
    )


def _semantic_dedup_local(emb: DataFrame, k: int, iterations: int,
                          tau: float) -> DataFrame | None:
    """semantic_dedup's ≤SEMDEDUP_DRIVER_MAX_ROWS branch: one collect, then
    numpy twins of every stage (see the call site for the parity
    argument). `emb` is the cleaned (id, vec) frame. Returns None to
    decline (NULL ids / non-finite vectors) — the caller then runs the
    distributed path."""
    import numpy as np

    from eve_graph_spark.operators.clustering import (
        KM_FP, _assign_local_rows, _kmeans_fit_local_mat,
    )

    spark = emb.sparkSession
    rows = emb.collect()
    out_schema = "id long, cluster int, n_close long, kept boolean"
    if not rows:
        return local_frame(spark, [], out_schema)
    ids = [r["id"] for r in rows]
    if any(i is None for i in ids):
        return None  # NULL ids: keep the distributed path authoritative
    if len(set(ids)) != len(ids):  # kmeans_fit's check_unique_ids contract
        seen: set[int] = set()
        dup = next(i for i in ids if i in seen or seen.add(i))
        raise ValueError(
            f"kmeans_fit requires unique id values; id {dup} appears more "
            "than once (dedup the input or pass check_unique_ids=False "
            "after deduping upstream)"
        )
    V = np.array([r["vec"] for r in rows], dtype=np.float64)
    if not np.isfinite(V).all():
        # SQL cast(floor(NaN/Inf) as long) clamps (NaN→0, ±Inf→extrema);
        # numpy astype is undefined for them — the distributed path stays
        # authoritative for non-finite vectors (same device as
        # ivf_pq_index's auto_local NaN guard)
        return None
    Mfv = np.floor(V * KM_FP + 0.5).astype(np.int64)
    centroids = _kmeans_fit_local_mat(ids, Mfv, k, iterations)
    assign = _assign_local_rows(Mfv, centroids, k)
    ids_np = np.array(ids, dtype=np.int64)
    fp_scale = float(SEMDEDUP_FP)
    tau_v = float(tau)
    out_a: list[int] = []
    out_b: list[int] = []
    # one group per cluster value (assign is never None here: emb is
    # non-empty so at least one centroid survives), ids ascending within —
    # the same per-group math _close_pairs runs under applyInPandas
    for c in np.unique(assign):
        sel = np.nonzero(assign == c)[0]
        order = sel[np.argsort(ids_np[sel])]
        gids = ids_np[order]
        mat = V[order]
        nrm = np.sqrt(np.floor(mat * mat * fp_scale + 0.5).sum(axis=1) / fp_scale)
        for i in range(len(gids) - 1):
            dot = np.floor(mat[i + 1:] * mat[i] * fp_scale + 0.5).sum(axis=1) / fp_scale
            cos = dot / (nrm[i] * nrm[i + 1:])
            hit = np.nonzero(cos >= tau_v)[0]
            out_a.extend([int(gids[i])] * len(hit))
            out_b.extend(int(gids[i + 1 + j]) for j in hit)
    n_close: dict[int, int] = {}
    for x in out_a:
        n_close[x] = n_close.get(x, 0) + 1
    for x in out_b:
        n_close[x] = n_close.get(x, 0) + 1
    dups = set(out_b)
    by_id = dict(zip(ids, (int(c) for c in assign)))
    return local_frame(
        spark, [(int(i), by_id[i], n_close.get(int(i), 0), int(i) not in dups)
         for i in ids],
        out_schema,
    )


def semantic_dedup_oracle_sql(k: int = 4, iterations: int = 2,
                              tau: float = 0.3, dim: int = 64,
                              table: str = "embeddings",
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> str:
    """DuckDB replay of `semantic_dedup`: the kmeans CTE parts
    (clustering.kmeans_cte_parts — identical assignments), then the same
    fixed-point pairwise cosine and keep-first rule."""
    from eve_graph_spark.operators.clustering import kmeans_cte_parts

    parts, final = kmeans_cte_parts(k, iterations, dim, table, id_col, vec_col)
    parts.append(
        f"""sd_v AS (
        SELECT {id_col} AS id, i AS idx, CAST({vec_col}[i] AS DOUBLE) AS val
        FROM {table}, unnest(range(1, {dim + 1})) AS u(i)
        WHERE {vec_col} IS NOT NULL AND len({vec_col}) = {dim}
    )"""
    )
    parts.append(
        f"""sd_sq AS (
        SELECT id,
               SUM(CAST(FLOOR(val * val * {SEMDEDUP_FP} + 0.5) AS BIGINT))
                   / {SEMDEDUP_FP}.0 AS sq
        FROM sd_v GROUP BY id
    )"""
    )
    parts.append(
        f"""sd_pairs AS (
        SELECT a.id AS ia, b.id AS ib
        FROM {final} a JOIN {final} b ON a.cluster = b.cluster AND a.id < b.id
    )"""
    )
    parts.append(
        f"""sd_cos AS (
        SELECT p.ia, p.ib,
               (SUM(CAST(FLOOR(va.val * vb.val * {SEMDEDUP_FP} + 0.5) AS BIGINT))
                / {SEMDEDUP_FP}.0)
               / (sqrt(qa.sq) * sqrt(qb.sq)) AS cos
        FROM sd_pairs p
        JOIN sd_v va ON va.id = p.ia
        JOIN sd_v vb ON vb.id = p.ib AND vb.idx = va.idx
        JOIN sd_sq qa ON qa.id = p.ia
        JOIN sd_sq qb ON qb.id = p.ib
        GROUP BY p.ia, p.ib, qa.sq, qb.sq
    )"""
    )
    parts.append(
        f"""sd_close AS (SELECT ia, ib FROM sd_cos WHERE cos >= {tau!r})"""
    )
    parts.append(
        """sd_n AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n_close FROM (
            SELECT ia AS id FROM sd_close UNION ALL SELECT ib AS id FROM sd_close
        ) GROUP BY id
    )"""
    )
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT a.id AS {id_col}, a.cluster,
       COALESCE(n.n_close, 0) AS n_close,
       (a.id NOT IN (SELECT ib FROM sd_close)) AS kept
FROM {final} a LEFT JOIN sd_n n ON n.id = a.id"""
