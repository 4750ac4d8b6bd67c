"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design:
- exact dedup is a hash-groupBy (one shuffle on the 32-hex digest,
  AQE-coalesced);
- MinHash+LSH is the linear-time near-dup path: per-doc signature
  (map-side only) -> explode b band buckets -> self-equi-join on
  (band, bucket) -> exact Jaccard verify on the candidates. No O(n^2)
  anywhere; the band join shuffles only (doc_id, bucket) pairs.
- SimHash gives a 64-bit locality-sensitive fingerprint; near-dup =
  bucket join on the top bits or hamming-verify on candidates.

Everything is deterministic (md5-based hashes, lexicographic string
mins) and exactly mirrorable in DuckDB SQL for the driver's oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import sql_cosine
from ..plans.cache import register_cache, release_local_checkpoint
from .textstats import _tokens, norm_text


def word_shingles(c: Column, k: int = 3) -> Column:
    """Distinct word k-grams of the normalized text."""
    toks = F.split(norm_text(c), " ")
    n = F.size(toks)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        )
    )


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """K lexicographic-min md5 hashes; string min is portable across
    engines (no hex->int conversion needed)."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(num_hashes)),
        lambda seed: F.array_min(
            F.transform(
                shingles,
                lambda s: F.md5(F.concat(seed.cast("string"), F.lit(":"), s)),
            )
        ),
    )


def lsh_bands(sig: Column, bands: int, rows_per_band: int) -> Column:
    """array<struct<band:int, bucket:string>> — md5 of each signature
    slice."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.struct(
            j.cast("int").alias("band"),
            F.md5(
                F.concat(
                    j.cast("string"),
                    F.lit("|"),
                    F.array_join(F.slice(sig, j * rows_per_band + 1, rows_per_band), ","),
                )
            ).alias("bucket"),
        ),
    )


def jaccard(a: Column, b: Column) -> Column:
    return F.round(
        F.size(F.array_intersect(a, b))
        / F.size(F.array_union(a, b)).cast("double"),
        6,
    )


def _shingle_sig_udf(num_hashes: int, k: int):
    """Arrow-batched kernel computing (shingles, minhash signature) —
    bit-identical to the SQL builders above (the collapse contract of
    ``kernels.tokens``, same md5-hex lexicographic mins) but ~10x
    faster than interpreted higher-order expressions. Parity is pinned
    by tests/test_operators.py::test_minhash_fast_matches_sql."""
    import hashlib

    from ..kernels.tokens import collapse_tokens, ngrams

    # seed-prefix digests are hashed once per batch and copy()d per
    # shingle, and each shingle is encoded once, not once per seed —
    # bit-identical bytes hashed (md5(b"{seed}:" + shingle)) with
    # num_hashes-fold fewer string encodes/allocations per doc (the
    # sf0.1 query is join-dominated, so the win shows at kernel-bound
    # scale, not in the 10k-doc bench). Prefixes ride the closure as
    # plain bytes; hashlib objects are not picklable.
    prefixes = [f"{seed}:".encode() for seed in range(1, num_hashes + 1)]

    @F.pandas_udf("struct<sh:array<string>,sig:array<string>>")
    def kernel(texts: pd.Series) -> pd.DataFrame:
        seed_bases = [hashlib.md5(p) for p in prefixes]
        shs, sigs = [], []
        for t in texts:
            if t is None:  # SQL: one NULL shingle, NULL array_min per seed
                shs.append([None])
                sigs.append([None] * num_hashes)
                continue
            # fewer than k tokens: one shingle of all of them, as SQL's
            # sequence(1, greatest(size - (k - 1), 1))
            toks = collapse_tokens(t)
            sh = list(dict.fromkeys(ngrams(toks, min(k, len(toks)))))
            sbytes = [s.encode() for s in sh]
            sig = []
            for base in seed_bases:
                best = None
                for sb in sbytes:
                    h = base.copy()
                    h.update(sb)
                    d = h.hexdigest()
                    if best is None or d < best:
                        best = d
                sig.append(best)
            shs.append(sh)
            sigs.append(sig)
        return pd.DataFrame({"sh": shs, "sig": sigs})

    return kernel


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical normalized text with >1 member:
    (fp, dup_count, keep_id) — keep_id = min id (deterministic)."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(norm_text(F.col(text_col))).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("dup_count"), F.min("id").alias("keep_id"))
        .where(F.col("dup_count") > 1)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    cache: list | None = None,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates verified with exact Jaccard.

    Returns (id_a, id_b, jaccard_sim) with id_a < id_b and
    jaccard_sim >= threshold. ``id_col`` must be unique (the documents
    primary key) — duplicate ids would re-amplify through the shingle
    fetch joins. ``cache`` receives the persisted kernel-output handle
    (id, shingles, signature — unexploded; see plans.cache: caller
    unpersists after materializing)."""
    r = num_hashes // bands
    kernel = _shingle_sig_udf(num_hashes, shingle_k)
    # materialize the kernel output ONCE per doc (sh + sig); the bucket
    # explode and the self-join carry only narrow (id, band, bucket)
    # rows — shuffling the wide shingle arrays through the 4x-exploded
    # self-join measured 3x slower at sf0.1
    base = register_cache(
        df.select(F.col(id_col).alias("id"), kernel(F.col(text_col)).alias("ss"))
        .select("id", F.col("ss.sh").alias("sh"), F.col("ss.sig").alias("sig")),
        cache,
    )
    # base is referenced three times (buckets + both shingle fetches);
    # the persist fills on first action — plan-only callers (explain,
    # composition) pay nothing at build time
    # explode_outer + isNotNull, not bare explode: the non-outer
    # Generate's implicit size()>0 filter is pushed below the
    # projection and re-runs the per-band md5 hashing once more per
    # row (guide §4.4 duplication). Band elements are constructed
    # structs (never NULL); NULL/empty arrays drop in both forms.
    buckets = (
        base.select(
            "id", F.explode_outer(lsh_bands(F.col("sig"), bands, r)).alias("bb")
        )
        .where(F.col("bb").isNotNull())
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )

    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # shingles fetched only for surviving candidate pairs — the pair
    # set is normally the small side (LSH collisions), and AQE turns
    # these into broadcast joins when it is; no forced hint, so a
    # pathologically duplicate-heavy corpus degrades to a shuffle join
    # instead of an OOM
    sha = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    shb = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        sha.join(cand, "id_a")
        .join(shb, "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def simhash64(c: Column) -> Column:
    """64-bit SimHash of the distinct whitespace tokens, as a 16-hex
    string. Bit p comes from nibble p/4 of each token's md5; the bit
    votes +1/-1 and the sign of the sum sets the output bit.

    Portable formula: nibble value = strpos('0123456789abcdef', ch)-1
    (same expression works in DuckDB)."""
    toks = F.array_distinct(F.split(norm_text(c), " "))
    hexes = F.transform(toks, lambda t: F.md5(t))

    def bit_sum(p):
        # p: Column 0..63; nibble index p/4 (1-based substr), bit 3-p%4
        nib_idx = (p / 4).cast("int") + 1
        shift_pow = F.pow(F.lit(2.0), (F.lit(3) - (p % 4)).cast("double")).cast("int")

        def vote(acc, h):
            nib = (
                F.instr(F.lit("0123456789abcdef"), F.substring(h, nib_idx, 1)) - 1
            ).cast("int")
            bit_on = ((nib / shift_pow).cast("int") % 2) == 1
            return acc + F.when(bit_on, 1).otherwise(-1)

        return F.aggregate(hexes, F.lit(0), vote)

    bits = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda p: F.when(bit_sum(p) > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    # reassemble 16 hex chars from 4-bit groups
    return F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda g: F.substring(
                F.lit("0123456789abcdef"),
                (
                    F.element_at(bits, (g * 4 + 1).cast("int")) * 8
                    + F.element_at(bits, (g * 4 + 2).cast("int")) * 4
                    + F.element_at(bits, (g * 4 + 3).cast("int")) * 2
                    + F.element_at(bits, (g * 4 + 4).cast("int"))
                    + 1
                ).cast("int"),
                1,
            ),
        ),
        "",
    )


def _simhash_udf():
    """Arrow-batched SimHash-64 kernel, bit-identical to the
    ``simhash64`` SQL formulation (the collapse contract of
    ``kernels.tokens``, distinct tokens, md5-nibble votes) but
    ~10-100x faster than the interpreted higher-order expression.
    Parity pinned by tests/test_operators.py::test_simhash_fast_matches_sql."""
    import hashlib

    from ..kernels.tokens import collapse_tokens

    @F.pandas_udf("string")
    def kernel(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:  # SQL: every bit's vote sum is NULL -> 0
                out.append("0" * 16)
                continue
            toks = dict.fromkeys(collapse_tokens(t))
            votes = [0] * 64
            for tok in toks:
                h = hashlib.md5(tok.encode()).hexdigest()
                for p in range(64):
                    nib = int(h[p // 4], 16)
                    bit = (nib >> (3 - p % 4)) & 1
                    votes[p] += 1 if bit else -1
            bits = [1 if v > 0 else 0 for v in votes]
            out.append(
                "".join(
                    "0123456789abcdef"[
                        bits[g * 4] * 8 + bits[g * 4 + 1] * 4
                        + bits[g * 4 + 2] * 2 + bits[g * 4 + 3]
                    ]
                    for g in range(16)
                )
            )
        return pd.Series(out)

    return kernel


def hamming_hex(a: Column, b: Column, hex_len: int = 16) -> Column:
    """Hamming distance between two equal-length hex fingerprints via
    per-nibble XOR popcount (portable: same strpos/bit_count formula
    runs in DuckDB)."""
    table = F.lit("0123456789abcdef")

    def nib(h: Column, i: Column) -> Column:
        return (F.instr(table, F.substring(h, i, 1)) - 1).cast("long")

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(hex_len)),
        F.lit(0).cast("long"),
        lambda acc, i: acc + F.bit_count(nib(a, i).bitwiseXOR(nib(b, i))),
    )


def _simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    slices: list[tuple[int, int]],
    max_hamming: int,
    cache: list | None,
) -> DataFrame:
    """SimHash candidate pairs bucketed on each (start, width) hex slice
    of the fingerprint, self-equi-joined per (slice, value) and
    verified by exact hamming distance: (id_a, id_b, hamming). Same
    shape as MinHash-LSH: shuffles only (id, slice), never an
    all-pairs product."""
    kernel = _simhash_udf()
    base = register_cache(
        df.select(F.col(id_col).alias("id"), kernel(F.col(text_col)).alias("sh")),
        cache,
    )  # the signature feeds a self-join: compute once
    buckets = base.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.substring("sh", start, width).alias("slice"),
                    )
                    for j, (start, width) in enumerate(slices)
                ]
            )
        ).alias("bb"),
    ).select("id", "sh", F.col("bb.band").alias("band"), F.col("bb.slice").alias("slice"))
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.slice") == F.col("b.slice"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.sh").alias("sh_a"),
        F.col("b.sh").alias("sh_b"),
    )
    if len(slices) > 1:
        cand = cand.dropDuplicates(["id_a", "id_b"])  # a pair can collide in >1 band
    return (
        cand.withColumn("hamming", hamming_hex(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    prefix_hex: int = 4,
    max_hamming: int = 6,
    cache: list | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: bucket on the top ``prefix_hex`` hex
    chars (16 LSH bits), self-equi-join within buckets, verify exact
    hamming distance. Recall misses near-dups whose flipped bits land
    in the prefix — ``simhash_near_dup_pairs_banded`` buckets on every
    band to raise it (same band trick as MinHash)."""
    return _simhash_pairs(df, id_col, text_col, [(1, prefix_hex)], max_hamming, cache)


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iters: int = 25
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation: every node's label converges to the smallest
    id reachable from it. Returns (id, component).

    Scale design: each iteration is ONE equi-join on the symmetrized
    edges plus a groupBy — no driver state beyond the converged-yet
    counter (the standard Pregel-style control loop; GraphX does the
    same). Labels are localCheckpoint'ed per iteration so plan lineage
    stays flat, and the PREVIOUS iteration's checkpoint blocks are
    released as soon as the new one is materialized, so the loop holds
    at most two label generations in executor storage. Converges in
    graph-diameter iterations; near-dup clusters are shallow
    (pairs/small cliques), so 2-4 rounds in practice.

    Cost note for 100 TB: the convergence check is a full count() job
    over the label table every iteration — that is the price of early
    exit, and with diameter 2-4 it is 2-4 cheap scans of an id/label
    table. For adversarial long-chain graphs (diameter ~ n) the right
    move is not to tune the check cadence but to call
    ``connected_components_star`` instead (large-star/small-star
    contraction, O(log n) rounds, same output; equivalence + chain
    tests in tests/test_operators.py).
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sym = sym.localCheckpoint(eager=True)  # edges are re-joined every round
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    prev = labels
    for _i in range(max_iters):
        neigh = (
            sym.join(labels, sym["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("comp").alias("ncomp"))
        )
        new = (
            labels.join(neigh, labels["id"] == neigh["a"], "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("ncomp", F.col("comp"))).alias(
                    "ncomp2"
                ),
                "comp",
            )
        )
        new = new.localCheckpoint(eager=True)
        changed = new.where(F.col("ncomp2") != F.col("comp")).count()
        release_local_checkpoint(prev)  # new is materialized; prev is dead
        prev = new
        labels = new.select("id", F.col("ncomp2").alias("comp"))
        if changed == 0:
            break
    else:  # pragma: no cover - diameter > max_iters
        raise RuntimeError(f"connected_components: no convergence in {max_iters} iters")
    release_local_checkpoint(sym)
    return labels


def connected_components_star(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iters: int = 50
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (the MapReduce CC algorithm of Kiveris et al.,
    'Connected Components in MapReduce and Beyond'): converges in
    O(log n) rounds even on adversarial long-chain graphs, where the
    min-label propagation of ``connected_components`` needs
    O(diameter) rounds. Same contract: (id, component) with component
    = the smallest id in the cluster; only edge endpoints appear.

    Scale design: each star round is ONE aggregate (min neighbor per
    node — map-side partial combine, so a celebrity hub folds locally)
    plus ONE equi-join back on the node key (AQE skew-splittable) and
    a distinct to keep the edge set canonical. No collect_list of
    neighborhoods anywhere — a hub node never materializes its
    adjacency in a single row. Edge tables are localCheckpoint'ed per
    round and the previous generation's blocks are released, as in
    ``connected_components``.

    Use this instead of ``connected_components`` when cluster diameter
    is unbounded (e.g. transitive-closure chains from aggressive
    thresholds); for ordinary near-dup workloads (diameter 2-4) the
    propagation loop runs fewer jobs per round and is the one
    ``keep_list_from_edges`` runs."""

    def canonical(e: DataFrame) -> DataFrame:
        return (
            e.where(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
        )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("u", "mn").alias("m"))
        # connect each STRICTLY LARGER neighbor v of u to u's minimum
        return canonical(
            sym.where(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient each edge from its larger endpoint: all neighbors of u
        # here are <= u, so min(S ∪ {u}) = min neighbor
        o = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        m = o.groupBy("u").agg(F.min("v").alias("m"))
        rewired = o.join(m, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        return canonical(rewired.unionByName(m.select("u", F.col("m").alias("v"))))

    e = canonical(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ).localCheckpoint(eager=True)
    prev = e

    def checksum(d: DataFrame):
        # bit_xor, not sum: summing 64-bit hashes overflows under ANSI
        r = d.agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return (r.n, r.h)

    sig = checksum(e)
    for _ in range(max_iters):
        e2 = small_star(large_star(e)).localCheckpoint(eager=True)
        sig2 = checksum(e2)
        release_local_checkpoint(prev)
        prev = e2
        e = e2
        if sig2 == sig:
            break
        sig = sig2
    else:  # pragma: no cover - pathological non-convergence
        raise RuntimeError(f"connected_components_star: no convergence in {max_iters}")
    # converged: every edge is (node, root-of-component)
    return (
        e.select(F.col("u").alias("id"), F.col("v").alias("comp"))
        .unionByName(e.select(F.col("v").alias("id"), F.col("v").alias("comp")))
        .distinct()
    )


def near_dup_keep_list(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    cache: list | None = None,
) -> DataFrame:
    """The standard 100-TB dedup ending: MinHash-LSH near-dup pairs ->
    connected components -> keep ONE doc (the min id) per cluster.
    Returns the ids that SURVIVE (everything outside any cluster plus
    each cluster's representative)."""
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_k, threshold, cache=cache
    )
    return keep_list_from_edges(df.select(id_col), pairs)


def keep_list_from_edges(ids: DataFrame, edges: DataFrame) -> DataFrame:
    """Survivor ids given near-dup edges from ANY signal (or a union of
    signals): ``connected_components`` over the edges (fewest jobs at
    near-dup diameters), keep the min id per cluster plus every
    unpaired id. ``ids`` is a one-column frame; ``edges`` carries
    (id_a, id_b) over the same id space.

    The component table is clamped to ``ids`` before picking each
    cluster's representative: if an edge endpoint is NOT in ``ids``
    (misaligned id spaces), the representative is the smallest id of
    the cluster that IS present, so a whole cluster can never silently
    vanish with no survivor. When the spaces align (the documented
    contract) the clamp is a no-op and the output is unchanged."""
    id_col = ids.columns[0]
    idn = ids.select(F.col(id_col).alias("id"))
    comp = connected_components(edges, "id_a", "id_b").join(idn, "id", "left_semi")
    rep = comp.groupBy("comp").agg(F.min("id").alias("rep"))
    drop = comp.join(rep, "comp").where(F.col("id") != F.col("rep")).select("id")
    return idn.join(drop, "id", "left_anti").select(F.col("id").alias(id_col))


def simhash_near_dup_pairs_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
    max_hamming: int = 6,
    cache: list | None = None,
) -> DataFrame:
    """Banded SimHash near-dup: split the 64-bit fingerprint into
    ``bands`` contiguous 16/bands-hex-char slices, bucket on each
    (band, slice), union the candidates, verify exact hamming. By
    pigeonhole, any pair within hamming bands-1 shares at least one
    untouched band — guaranteed recall there, and much higher recall
    than the single-prefix bucket for larger distances."""
    if 16 % bands:
        raise ValueError("bands must divide 16 hex chars")
    w = 16 // bands
    slices = [(j * w + 1, w) for j in range(bands)]
    return _simhash_pairs(df, id_col, text_col, slices, max_hamming, cache)


def embedding_cosine(a: str, b: str) -> Column:
    """Cosine similarity of the array columns named by the SQL
    expressions ``a`` and ``b`` (``functions.vectors.sql_cosine``: an
    explicit sequential fold, the DuckDB oracle's summation order),
    rounded to 6 decimals. A zero-norm vector yields NaN; both engines
    order NaN first under DESC and treat NaN >= t as true, so the
    semantics stay engine-identical for degenerate vectors."""
    return F.expr(sql_cosine(a, b))


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
    num_planes: int = 6,
    dim: int = 64,
    multiprobe: int = 0,
    cache: list | None = None,
) -> DataFrame:
    """The PRODUCTION embedding near-dup path: hyperplane-LSH buckets
    both sides, candidate pairs come from a bucket equi-join (shuffles
    only (id, bucket)), exact cosine verifies. No all-pairs product
    anywhere — at 100 TB the join is key-local per bucket.

    Recall < 1 by construction (near-identical vectors land in the
    same bucket with prob (1 - theta/pi)^planes); ``multiprobe`` > 0
    raises it without extra hash tables: one side additionally probes
    every bucket at hamming distance 1 (first ``multiprobe`` bit
    flips, similarity.probe_buckets), recovering any pair that
    disagrees on exactly one hyperplane. Candidate volume grows by at
    most (multiprobe+1)x on the probing side only — the explode stays
    on narrow (id, bucket) rows, so the scale shape is unchanged.
    ``q_neardup_recall`` records the measured recall with and without
    probing at the same plane count."""
    from .similarity import lsh_bucket, probe_buckets

    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("bucket", lsh_bucket(F.col("v"), num_planes, dim))
    base = register_cache(base, cache)  # interpreted fold; referenced 3x
    nb = base.select("id", "bucket")
    # explode_outer + isNotNull: avoids the pushed size()>0 filter
    # re-running probe_buckets per row (guide §4.4); bucket strings
    # are concat results over a non-null cached column, never NULL
    a = nb.select(
        "id",
        F.explode_outer(
            probe_buckets(F.col("bucket"), num_planes, multiprobe)
        ).alias("bucket"),
    ).where(F.col("bucket").isNotNull()).alias("a") if multiprobe else nb.alias("a")
    b = nb.alias("b")
    # the self-join shuffles ONLY (id, bucket); vectors are fetched
    # map-side for surviving candidate pairs (AQE broadcasts the pair
    # set when it is small) — at 100 TB with 1k-dim embeddings the
    # vector payload is the dominant shuffle term
    cand = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    if multiprobe:
        # a pair can now meet via its shared bucket AND a flipped one
        cand = cand.dropDuplicates(["id_a", "id_b"])
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        va.join(cand, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            embedding_cosine("v_a", "v_b").alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def embedding_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95, max_ids: int = 200
) -> DataFrame:
    """Embedding-cosine near-dup over a bounded id range (the oracle
    pattern); the scale path is similarity.ann_lsh_topk."""
    e = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).where(
        F.col("id") < max_ids
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            embedding_cosine("a.v", "b.v").alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def incremental_exact_dedup(
    new_docs: DataFrame, seen_fps: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Incremental ingest dedup — the shape a 100 TB pipeline actually
    runs day over day: dedup a NEW batch against the accumulated
    fingerprint store WITHOUT touching historical text. Returns
    (id, fp, keep): keep=1 iff the doc's content fingerprint is absent
    from ``seen_fps`` (one column ``fp``) AND the doc is the smallest
    id of its fingerprint group within the batch.

    Scale: the in-batch survivor is the exact_duplicates aggregate
    shape (groupBy fp, map-side combine); the history check is a
    LEFT ANTI join of only the batch's candidate winners (one row per
    distinct batch fp) against the store — anti join neither
    duplicates on store-side duplicate fps nor needs a distinct over
    the history, and at scale the store is a bucketed table on fp so
    the join co-partitions with no shuffle of history. The caller
    appends ``keep=1`` rows' fps to the store afterwards (idempotent:
    re-appending an existing fp only adds a duplicate the next
    anti-join ignores)."""
    base = new_docs.select(
        F.col(id_col).alias("id"), F.md5(norm_text(F.col(text_col))).alias("fp")
    )
    batch_keep = base.groupBy("fp").agg(F.min("id").alias("_keep_id"))
    seen = seen_fps.select(F.col(seen_fps.columns[0]).alias("fp"))
    winners = (
        batch_keep.join(seen, "fp", "left_anti")
        .select(F.col("_keep_id").alias("id"))
        .withColumn("_unseen_winner", F.lit(1))
    )
    return (
        base.join(winners, "id", "left")
        .select(
            "id",
            "fp",
            F.coalesce("_unseen_winner", F.lit(0)).cast("int").alias("keep"),
        )
    )


def canonical_url(c: Column) -> Column:
    """URL canonicalization (the standard Common-Crawl dedup key):
    drop the fragment, lowercase scheme+authority, strip the scheme's
    OWN default port (:80 for http, :443 for https — an explicit
    non-default port like https://host:80 is a distinct origin and is
    kept), drop tracking query params (utm_*, gclid, fbclid), drop a
    trailing slash. Pure engine-portable expressions — the DuckDB
    oracle applies the same regexes (q_url_dedup)."""
    no_frag = F.regexp_replace(c, r"#.*$", "")
    sh_raw = F.regexp_extract(no_frag, r"^[^:/?#]+://[^/?#]*", 0)
    low = F.lower(sh_raw)
    sh = (
        F.when(low.startswith("http://"), F.regexp_replace(low, r":80$", ""))
        .when(low.startswith("https://"), F.regexp_replace(low, r":443$", ""))
        .otherwise(low)
    )
    rest = F.substr(no_frag, F.length(sh_raw) + 1)
    path = F.regexp_replace(
        F.regexp_extract(rest, r"^[^?]*", 0), r"/$", ""
    )
    qstr = F.when(
        rest.contains("?"), F.regexp_replace(rest, r"^[^?]*\?", "")
    )
    params = F.filter(
        F.split(qstr, "&"),
        lambda p: (p != "") & ~p.rlike(r"^(utm_[^=]*|gclid|fbclid)="),
    )
    query = F.when(
        qstr.isNotNull() & (F.size(params) > 0),
        F.concat(F.lit("?"), F.array_join(params, "&")),
    ).otherwise(F.lit(""))
    return F.concat(sh, path, query)


def url_dedup(df: DataFrame, id_col: str, url_col: str) -> DataFrame:
    """Exact URL-level dedup over the canonical form: (id, canon_url,
    dup_count, keep) with keep=1 for the smallest id of each canonical
    group. Same skew-safe shape as exact_duplicates — a groupBy
    aggregate (map-side combine, so a viral URL folds locally) joined
    back on the canonical key (AQE skew-splittable); never a window
    partitioned by the URL."""
    base = df.select(
        F.col(id_col).alias("id"),
        canonical_url(F.col(url_col)).alias("canon_url"),
    )
    groups = base.groupBy("canon_url").agg(
        F.min("id").alias("_keep_id"), F.count("*").cast("long").alias("dup_count")
    )
    # eqNullSafe: NULL urls form their own canonical group (groupBy
    # keeps them); the join-back must return them flagged, not drop them
    return (
        base.join(
            groups.withColumnRenamed("canon_url", "_cu"),
            base["canon_url"].eqNullSafe(F.col("_cu")),
        )
        .select(
            "id",
            "canon_url",
            "dup_count",
            (F.col("id") == F.col("_keep_id")).cast("int").alias("keep"),
        )
    )


def line_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """C4-style global line-level deduplication: every distinct line
    keeps only its FIRST occurrence corpus-wide (lowest (doc id, line
    position)), and documents are rebuilt from their surviving lines in
    original order. Documents whose every line was seen earlier vanish
    from the output.

    Scale: first-occurrence selection is ``groupBy(line).agg(
    min(struct(id, pos)))`` — an aggregate, NOT a window, because on a
    Common-Crawl-shaped corpus the hottest boilerplate line appears in
    a large fraction of all documents and a window partitioned by the
    line would sort every copy in ONE task (AQE splits skewed joins,
    never window partitions). The aggregate gets map-side partial
    combine: each task reduces its local copies of the hot line to one
    candidate (min struct) before the shuffle, so the reduce side sees
    O(tasks) rows per line, not O(occurrences). struct min orders
    field-by-field, so min(struct(id, pos)) == the (id, pos)-smallest
    occurrence — identical output to the previous row_number form.
    Two shuffles total: line-keyed agg + id-keyed rebuild. At 100 TB
    hash the line to a 16-byte key for the groupBy if line lengths are
    adversarial (carry min(line) alongside for the rebuild). Returns
    (id, n_lines, text_md5)."""
    # posexplode_outer: the non-outer Generate's pushed size()>0 filter
    # re-evaluates the upstream text expression (callers pass computed
    # renditions, e.g. the entry's structured-text build) once more per
    # row (guide §4.4). split() elements are never NULL and the
    # existing non-empty-line filter drops the outer form's NULL row
    # for NULL text, so the output is identical.
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).where(F.trim("line") != "")
    first = (
        lines.groupBy("line")
        .agg(F.min(F.struct("id", "pos")).alias("f"))
        .select(F.col("f.id").alias("id"), F.col("f.pos").alias("pos"), "line")
    )
    return first.groupBy("id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            )
        ).alias("text_md5"),
    )


def _span_windows(toks: Column, k: int) -> Column:
    """SQL reference of ``_span_windows_udf``: (start, md5) of every
    k-token window of a ``_tokens`` array, ``start`` 1-based; empty
    when there are fewer than k tokens."""
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.struct(
                i.alias("start"),
                F.md5(F.array_join(F.slice(toks, i, k), " ")).alias("h"),
            ),
        ),
    ).otherwise(F.expr("cast(array() as array<struct<start:int,h:string>>)"))


def _span_windows_udf(k: int):
    """Arrow-batched kernel for the k-token window hashes of
    ``duplicate_span_removal`` — bit-identical to ``_span_windows``
    (the split contract of ``kernels.tokens``, NULL -> empty, md5 over
    UTF-8), pinned by
    tests/test_operators.py::test_span_window_kernel_matches_sql."""
    import hashlib

    from ..kernels.tokens import ngrams, split_tokens

    @F.pandas_udf("array<struct<start:int,h:string>>")
    def kernel(texts: pd.Series) -> pd.Series:
        md5 = hashlib.md5
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            out.append(
                [
                    (i, md5(g.encode()).hexdigest())
                    for i, g in enumerate(ngrams(split_tokens(t), k), 1)
                ]
            )
        return pd.Series(out)

    return kernel


def duplicate_span_removal(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """ExactSubstr-style duplicated-span removal (the Lee et al.
    "Deduplicating Training Data Makes Language Models Better"
    operator, recast with k-token shingle hashes): every token covered
    by ANY k-token window whose hash occurs more than once corpus-wide
    is removed from every occurrence; documents are rebuilt from the
    surviving tokens in order. Symmetric removal (all copies go) —
    deterministic with no global ordering pass. Returns
    (id, n_tokens, n_removed, text_md5); docs shorter than k tokens
    are trivially kept whole.

    Scale: window hashes explode linearly (the decontam-gram shape,
    one pass, md5 32-byte keys); duplicate detection is a hash-keyed
    aggregate with map-side combine (a boilerplate span appearing in
    half the corpus folds per-task BEFORE the shuffle — never a window
    over the hot hash); flagged starts join back id-keyed; the
    coverage filter is a native higher-order exists per token. Two
    shuffles: hash agg + id-keyed rebuild."""
    base = df.select(F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("toks"))
    # the k-token windows are hashed in the Arrow kernel; the explode is
    # explode_outer + isNotNull (guide §4.4): a bare explode's pushed
    # size()>0 filter would re-run the window construction per row.
    # Window elements are constructed structs (never NULL); short docs'
    # empty arrays drop in both forms.
    wins_src = df.select(
        F.col(id_col).alias("id"), _span_windows_udf(k)(F.col(text_col)).alias("wa")
    )
    wins = (
        wins_src.select("id", F.explode_outer("wa").alias("w"))
        .where(F.col("w").isNotNull())
        .select("id", F.col("w.start").alias("start"), F.col("w.h").alias("h"))
    )
    dup_h = (
        wins.groupBy("h")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") > 1)
        .select("h")
    )
    flagged = wins.join(dup_h, "h").groupBy("id").agg(
        F.collect_list("start").alias("starts")
    )
    joined = base.join(flagged, "id", "left").select(
        "id",
        "toks",
        F.coalesce("starts", F.expr("cast(array() as array<int>)")).alias("starts"),
    )
    # position K (1-based) is removed iff some flagged start s covers
    # it: s <= K < s + k
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size("toks")),
            lambda i: F.struct(
                i.alias("pos"), F.element_at("toks", i).alias("t")
            ),
        ),
        lambda s: ~F.exists(
            F.col("starts"),
            lambda st: (st <= s["pos"]) & (s["pos"] < st + k),
        ),
    )
    return joined.select(
        "id",
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.md5(F.array_join(F.transform(kept, lambda s: s["t"]), " ")).alias(
            "text_md5"
        ),
    )


# ---------------------------------------------------------------------------
# URL quality filtering (C4/RefinedWeb-style pre-crawl-content gate)
# ---------------------------------------------------------------------------

DEFAULT_URL_BLOCKLIST = (
    "porn", "xxx", "casino", "gambl", "viagra", "escort",
)

# \z (end of TEXT) rather than $: Java's $ also matches before a
# trailing newline while RE2's does not — \z means the same thing in
# both engines, so the DuckDB oracle parity holds even for dirty
# crawl urls containing control characters
_BAD_EXT_RE = (
    r"\.(jpg|jpeg|png|gif|bmp|webp|css|js|ico|svg|woff2?|ttf|zip|gz|tar"
    r"|exe|dmg|mp3|mp4|avi|mov|pdf)\z"
)


def url_quality(
    df: DataFrame,
    id_col: str,
    url_col: str,
    blocklist: tuple[str, ...] = DEFAULT_URL_BLOCKLIST,
    max_digit_frac: float = 0.4,
    max_path_depth: int = 10,
    max_url_len: int = 512,
    max_params: int = 8,
) -> DataFrame:
    """URL-level quality gate — the filter web-text pipelines apply
    BEFORE fetching/parsing content (C4 drops bad extensions and a
    word blocklist; RefinedWeb adds url-shape heuristics). One row per
    input: (id, url, host, bad_ext, blocked_word, digit_host,
    deep_path, long_url, many_params, n_flags, keep) with integer 0/1
    flags and keep = 1 iff no flag fires.

    Pure whole-stage-codegen expressions — zero shuffles, zero Python;
    at 100 TB this runs inside the scan projection. All rules are
    engine-portable regex/arithmetic (the DuckDB oracle mirrors them):
    - bad_ext       path ends in a non-page asset/binary extension
    - blocked_word  host+path contains a blocklist token (substring,
                    the C4 badwords approach at its simplest)
    - digit_host    digit fraction of the host > ``max_digit_frac``
                    (autogenerated spam hosts)
    - deep_path     more than ``max_path_depth`` path segments
    - long_url      url longer than ``max_url_len`` chars
    - many_params   more than ``max_params`` query parameters
    Unfetchable inputs — NULL urls and urls with no authority (empty
    host: empty string, scheme-less, bare scheme) — get keep=0 with
    every flag 0: a PRE-FETCH gate must not forward what cannot be
    fetched."""
    import re as _re

    url = F.col(url_col)
    # strip the fragment FIRST: a '?' inside '#...' is fragment
    # content (SPA routes), not a query string. (?s) so '.' crosses
    # newlines identically in Java and RE2 (dirty crawl urls)
    no_frag = F.regexp_replace(url, r"(?s)#.*", "")
    host_raw = F.lower(F.regexp_extract(no_frag, r"^[^:/?#]+://([^/?#]*)", 1))
    host = F.regexp_replace(
        F.regexp_replace(host_raw, r"^[^@]*@", ""), r":[0-9]+\z", ""
    )
    path = F.regexp_extract(no_frag, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(no_frag, r"(?s)\?(.*)", 1)

    blocked_re = "(" + "|".join(_re.escape(w) for w in blocklist) + ")"
    n_digits = F.length(host) - F.length(F.regexp_replace(host, r"[0-9]", ""))
    digit_frac = F.when(
        F.length(host) > 0, n_digits / F.length(host)
    ).otherwise(F.lit(0.0))
    depth = F.length(path) - F.length(F.regexp_replace(path, r"/", ""))
    n_params = F.when(
        F.length(query) > 0,
        F.length(query) - F.length(F.regexp_replace(query, r"&", "")) + 1,
    ).otherwise(F.lit(0))

    flags = {
        "bad_ext": F.lower(path).rlike(_BAD_EXT_RE),
        "blocked_word": F.concat(host, F.lower(path)).rlike(blocked_re),
        "digit_host": digit_frac > max_digit_frac,
        "deep_path": depth > max_path_depth,
        "long_url": F.length(url) > max_url_len,
        "many_params": n_params > max_params,
    }
    out = df.select(
        F.col(id_col).alias("id"),
        url.alias("url"),
        host.alias("host"),
        *[F.coalesce(c.cast("int"), F.lit(0)).alias(n) for n, c in flags.items()],
    )
    n_flags = sum(F.col(n) for n in flags)
    return out.withColumn("n_flags", n_flags.cast("long")).withColumn(
        "keep",
        F.when(
            F.col("url").isNull() | (F.length("host") == 0), F.lit(0)
        ).otherwise((n_flags == 0).cast("int")),
    )
