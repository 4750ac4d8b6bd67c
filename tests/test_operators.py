"""Training-data-pipeline operators: dedup, similarity, multimodal,
streaming — functional checks with planted cases."""

import hashlib

import pytest
from pyspark.sql import functions as F

from indu_doc_transformer_spark.operators import dedup as dd
from indu_doc_transformer_spark.operators import multimodal as mm
from indu_doc_transformer_spark.operators import similarity as sim
from token_cases import TOKEN_CASES


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden"
)


def with_shared_cases(spark, df):
    """``df`` plus the shared adversarial tokenization rows (ids 100+)."""
    rows = [(100 + i, text) for i, (text, _, _) in enumerate(TOKEN_CASES)]
    return df.unionByName(spark.createDataFrame(rows, df.schema))


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE.replace("garden", "meadow")),  # near-dup of 0
        (2, BASE),  # exact dup of 0
        (3, "completely different text about spark query engines and shuffles here"),
        (4, "another unrelated document mentioning parquet files and arrow batches"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_operator_caches_are_scoped(spark, docs):
    """Operators that persist self-join intermediates expose the handle
    via the ``cache`` registry; temp_caches() unpersists on exit, so a
    long-lived session doesn't leak executor storage (ADVICE round 2)."""
    from indu_doc_transformer_spark.plans.cache import temp_caches

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    with temp_caches() as cache:
        out = dd.minhash_lsh_pairs(docs, "doc_id", "text", cache=cache).collect()
        assert out  # materialized inside the scope
        assert len(cache) == 1
        assert jsc.getPersistentRDDs().size() > before
    assert jsc.getPersistentRDDs().size() == before


def test_exact_duplicates(docs):
    out = dd.exact_duplicates(docs, "doc_id", "text").collect()
    assert len(out) == 1
    assert out[0].dup_count == 2 and out[0].keep_id == 0


def test_minhash_lsh_finds_planted_neardup(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in dd.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.3).collect()
    }
    assert (0, 2) in pairs and pairs[(0, 2)] == 1.0
    assert (0, 1) in pairs and 0.5 < pairs[(0, 1)] < 1.0
    assert (0, 3) not in pairs and (3, 4) not in pairs


def test_simhash_fast_matches_sql(spark, docs):
    """The Arrow SimHash kernel must be bit-identical to the SQL
    formulation (the DuckDB oracle checks the SQL one), also on the
    shared adversarial tokenization cases."""
    df = with_shared_cases(spark, docs)
    sql_side = {
        r.doc_id: r.s
        for r in df.select("doc_id", dd.simhash64(F.col("text")).alias("s")).collect()
    }
    kernel = {
        r.doc_id: r.s
        for r in df.select("doc_id", dd._simhash_udf()(F.col("text")).alias("s")).collect()
    }
    assert sql_side == kernel and len(kernel) == 5 + len(TOKEN_CASES)


def test_simhash_neardup_pairs(spark, docs):
    """Prefix-bucketed candidates + exact hamming verify; every pair
    must share the 16-bit prefix and respect the threshold."""
    out = dd.simhash_near_dup_pairs(docs, "doc_id", "text", 4, 6).collect()
    sh = {
        r.doc_id: r.s
        for r in docs.select("doc_id", dd.simhash64(docs.text).alias("s")).collect()
    }
    for r in out:
        assert r.id_a < r.id_b and r.hamming <= 6
        assert sh[r.id_a][:4] == sh[r.id_b][:4]
    assert out


def test_minhash_fast_matches_sql(spark, docs):
    """The Arrow kernel must be bit-identical to the SQL formulation
    (the DuckDB oracle checks the SQL one), also on the shared
    adversarial tokenization cases."""
    df = with_shared_cases(spark, docs)
    sql_side = df.select(
        "doc_id",
        dd.word_shingles(F.col("text"), 3).alias("sh"),
    ).withColumn("sig", dd.minhash_signature(F.col("sh"), 16))
    kernel = df.select("doc_id", dd._shingle_sig_udf(16, 3)(F.col("text")).alias("ss"))
    a = {r.doc_id: (list(r.sh), list(r.sig)) for r in sql_side.collect()}
    b = {r.doc_id: (list(r.ss.sh), list(r.ss.sig)) for r in kernel.collect()}
    assert a == b and len(b) == 5 + len(TOKEN_CASES)


def test_simhash_identical_docs_equal(docs):
    out = {r.doc_id: r.sh for r in docs.select("doc_id", dd.simhash64(F.col("text")).alias("sh")).collect()}
    assert out[0] == out[2]
    assert len(out[0]) == 16
    # near-dup hamming distance small, unrelated larger
    def ham(a, b):
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    assert ham(out[0], out[1]) < ham(out[0], out[3])


def test_ann_bruteforce_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(50, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id bigint, embedding array<float>",
    )
    out = sim.ann_bruteforce_topk(df, "vec_id", "embedding", [0], k=3).collect()
    got = [(r.vec_id, r.rank) for r in sorted(out, key=lambda r: r.rank)]

    v = vecs.astype("float64")
    cos = (v @ v[0]) / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[0]))
    cos[0] = -2  # probe excluded
    expect = sorted(range(50), key=lambda i: (-round(cos[i], 6), i))[:3]
    assert [g[0] for g in got] == expect


def test_ann_bruteforce_norm_precompute_parity(spark):
    """The r7 optimization precomputes per-vector norms before the
    probe cross join; cos_sim must stay BIT-identical to the inline
    embedding_cosine fold — including the zero-norm NaN path."""
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.randn(40, 8).astype("float32")
    vecs[7] = 0.0  # zero-norm candidate -> NaN cosine (fail-closed)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id bigint, embedding array<float>",
    )
    fast = sim.ann_bruteforce_topk(df, "vec_id", "embedding", [0, 5], k=40)
    base = df.select(F.col("vec_id"), F.col("embedding").alias("v"))
    probes = base.where(F.col("vec_id").isin([0, 5])).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    slow = sim._topk(
        base.crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos_sim", dd.embedding_cosine(F.col("pv"), F.col("v"))),
        k=40,
    )
    key = lambda r: (r.probe_id, r.rank)
    a = [(r.probe_id, r.rank, r.vec_id, str(r.cos_sim)) for r in sorted(fast.collect(), key=key)]
    b = [(r.probe_id, r.rank, r.vec_id, str(r.cos_sim)) for r in sorted(slow.collect(), key=key)]
    assert a == b and any("nan" in x[3] for x in a)


def test_decontam_gram_kernel_matches_sql(spark):
    """The ``grams`` column of the Arrow gram-stats kernel
    (``_gram_stats_table(..., hash_n=n)``) must reproduce its
    interpreted-SQL reference ``_distinct_grams`` exactly (order +
    values) — including NULL text, empty text, whitespace-only text,
    leading/trailing separators, tabs/newlines, non-ASCII, docs shorter
    than n, and the shared adversarial tokenization cases."""
    from indu_doc_transformer_spark.operators import decontam as dc
    from indu_doc_transformer_spark.operators import textstats as ts

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "  the quick   brown\tfox\njumps over "),
        (2, None),
        (3, ""),
        (4, "   "),
        (5, "\t\n"),
        (6, "one two three"),
        (7, "ÅÄÖ Straße the quick BROWN fox Über alles here"),
        (8, "a b c d a b c d a b c d"),
        (9, "x" * 50 + " y z w v u t s"),
    ]
    df = with_shared_cases(
        spark, spark.createDataFrame(rows, "doc_id bigint, text string")
    )
    for n in (2, 3, 4):
        k = ts._gram_stats_table(df, "doc_id", "text", (), (), hash_n=n)
        a = {r.id: list(r.grams) for r in k.collect()}
        b = {
            r.doc_id: list(r.b)
            for r in df.select("doc_id", dc._distinct_grams(F.col("text"), n).alias("b")).collect()
        }
        assert len(a) == len(rows) + len(TOKEN_CASES)
        assert a == b, n


def test_span_window_kernel_matches_sql(spark):
    """duplicate_span_removal's Arrow window-hash kernel must reproduce
    its SQL reference ``_span_windows`` exactly (order + values) —
    nulls, whitespace-only, short docs, repeated boilerplate,
    non-ASCII, and the shared adversarial tokenization cases."""
    from indu_doc_transformer_spark.operators.textstats import _tokens

    rows = [
        (0, "a b c d e f g a b c d e f g tail one two"),
        (1, "a b c d e f g prefix a b c d e f g"),
        (2, None),
        (3, ""),
        (4, " \t\n "),
        (5, "one two three"),
        (6, "ÅÄÖ ü ü ü ü ü ü ü ü ss"),
        (7, "  leading and trailing  "),
    ]
    df = with_shared_cases(
        spark, spark.createDataFrame(rows, "doc_id bigint, text string")
    )
    for k in (3, 7):
        a = dd._span_windows_udf(k)(F.col("text"))
        b = dd._span_windows(_tokens(F.col("text")), k)
        pairs = df.select("doc_id", a.alias("a"), b.alias("b")).collect()
        assert len(pairs) == len(rows) + len(TOKEN_CASES)
        for r in pairs:
            assert [tuple(w) for w in r.a] == [tuple(w) for w in r.b], (k, r.doc_id)


def test_guid_charjoin_matches_charjoin_on_guid_inputs(spark):
    """The r7 lookaround charjoin is only used on GUID/hex/keyword
    inputs; it must be byte-identical to the extract_all form there
    (incl. null, empty, single char)."""
    from indu_doc_transformer_spark.functions import guids as G

    df = spark.createDataFrame(
        [("5eb63bbb-e01e-eed0-93cb-22bb8f5acdc3",), ("src",), ("dst",),
         ("a",), ("",), (None,)],
        "s string",
    )
    rows = df.select(
        G.charjoin(F.col("s")).alias("old"),
        G.guid_charjoin(F.col("s")).alias("new"),
    ).collect()
    assert all(r.old == r.new for r in rows)
    sql_rows = df.selectExpr(
        f"{G.sql_charjoin('s')} as old", f"{G.sql_guid_charjoin('s')} as new"
    ).collect()
    assert all(r.old == r.new for r in sql_rows)


def test_ann_lsh_subset_of_bruteforce_space(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = rng.randn(80, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id bigint, embedding array<float>",
    )
    out = sim.ann_lsh_topk(df, "vec_id", "embedding", [0, 1], k=3, num_planes=2, dim=8)
    rows = out.collect()
    assert all(r.probe_id in (0, 1) and r.rank <= 3 for r in rows)
    assert len(rows) >= 1  # same-bucket neighbors exist with 2 planes


def test_ann_lsh_multiprobe_recall_superset(spark):
    """Multi-probe searches the probe's bucket plus all hamming-1
    flips, so its candidate set strictly contains the plain LSH one."""
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.randn(80, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id bigint, embedding array<float>",
    )
    plain = sim.ann_lsh_topk(df, "vec_id", "embedding", [0], k=50, num_planes=3, dim=8)
    multi = sim.ann_lsh_topk(
        df, "vec_id", "embedding", [0], k=50, num_planes=3, dim=8, multiprobe=3
    )
    p = {r.vec_id for r in plain.collect()}
    m = {r.vec_id for r in multi.collect()}
    assert p <= m and len(m) > len(p)


def test_connected_components_chain(spark):
    """Min-label propagation converges across a 3-hop chain and leaves
    disjoint components separate."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 3)], "id_a bigint, id_b bigint"
    )
    comp = {r.id: r.comp for r in dd.connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_connected_components_star_matches_propagation(spark):
    """The large-star/small-star contraction must produce exactly the
    min-label components of the propagation loop on a mixed graph
    (chain + clique + singleton pair)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21), (4, 9)],
        "id_a bigint, id_b bigint",
    )
    star = {r.id: r.comp for r in dd.connected_components_star(edges).collect()}
    prop = {r.id: r.comp for r in dd.connected_components(edges).collect()}
    assert star == prop


def test_connected_components_star_handles_adversarial_chain(spark):
    """A long transitive chain is the adversarial case the propagation
    loop cannot handle (O(diameter) rounds): on a 128-node chain the
    star contraction converges in O(log n) rounds while propagation
    exhausts a 10-round budget and fails loudly."""
    n = 128
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
    )
    comp = {r.id: r.comp for r in dd.connected_components_star(edges).collect()}
    assert set(comp) == set(range(n)) and set(comp.values()) == {0}
    with pytest.raises(RuntimeError, match="no convergence"):
        dd.connected_components(edges, max_iters=10)


def test_keep_list_clamps_to_id_space(spark):
    """An edge endpoint OUTSIDE the caller's id space must not silently
    drop the whole cluster: the representative is the smallest id that
    IS present (ADVICE r3 — misaligned spaces previously lost every doc
    of a cluster whose global min-id was absent)."""
    ids = spark.createDataFrame([(5,), (6,), (7,)], "doc_id bigint")
    edges = spark.createDataFrame([(1, 5), (5, 6)], "id_a bigint, id_b bigint")
    keep = {r.doc_id for r in dd.keep_list_from_edges(ids, edges).collect()}
    assert keep == {5, 7}  # 5 survives as min PRESENT id; 6 drops; 7 unpaired


def test_source_caps_two_phase_semantics(spark):
    """The salted two-phase K-smallest must keep exactly the K smallest
    ids per source with exact 1-based ranks, NULL rank for capped-out
    rows — across salt counts (including one forcing a multi-group
    merge)."""
    from indu_doc_transformer_spark.operators import sampling as sp

    rows = [(i, "hot" if i % 2 == 0 else f"s{i % 3}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    expect = {}
    per_source: dict = {}
    for i, src in sorted(rows):
        per_source.setdefault(src, []).append(i)
    for src, ids in per_source.items():
        for rank, i in enumerate(sorted(ids), start=1):
            expect[i] = (src, rank if rank <= 7 else None, int(rank <= 7))
    for salts in (1, 4, 16):
        got = {
            r.id: (r.source, r.rank, r.keep)
            for r in sp.source_caps(docs, "doc_id", "source", 7, num_salts=salts).collect()
        }
        assert got == expect, salts


def test_embedding_neardup_multiprobe_superset(spark):
    """Hamming-1 multi-probe must recover every pair the plain bucket
    join finds plus pairs differing on exactly one hyperplane —
    strictly more on a clustered synthetic set."""
    import numpy as np

    rng = np.random.RandomState(11)
    centers = rng.randn(6, 16).astype("float64")
    vecs = [centers[i % 6] + 0.05 * rng.randn(16) for i in range(90)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(90)],
        "vec_id bigint, embedding array<float>",
    )
    plain = {
        (r.id_a, r.id_b)
        for r in dd.embedding_near_dup_lsh(
            df, "vec_id", "embedding", threshold=0.9, num_planes=6, dim=16
        ).collect()
    }
    probed = {
        (r.id_a, r.id_b)
        for r in dd.embedding_near_dup_lsh(
            df, "vec_id", "embedding", threshold=0.9, num_planes=6, dim=16,
            multiprobe=6,
        ).collect()
    }
    assert plain <= probed and len(probed) > len(plain)


def test_near_dup_keep_list(docs):
    """Docs 0/1/2 form one near-dup cluster (1 is a near-dup of 0, 2 an
    exact dup) -> only the min id survives; singletons survive."""
    keep = {r.doc_id for r in dd.near_dup_keep_list(docs, "doc_id", "text").collect()}
    assert keep == {0, 3, 4}


def test_simhash_banded_superset(docs):
    """4-band bucketing finds every pair the single-prefix bucket finds
    (band 0 IS the prefix), plus pairs whose flipped bits hit the
    prefix."""
    single = {
        (r.id_a, r.id_b)
        for r in dd.simhash_near_dup_pairs(docs, "doc_id", "text", 4, 20).collect()
    }
    banded = {
        (r.id_a, r.id_b)
        for r in dd.simhash_near_dup_pairs_banded(
            docs, "doc_id", "text", bands=4, max_hamming=20
        ).collect()
    }
    assert single <= banded and banded


def test_as_of_join_semantics(spark):
    """Backward as-of: latest right_ts <= left_ts per key; ties take
    the simultaneous right row; no prior row -> null (LEFT ASOF)."""
    from indu_doc_transformer_spark.operators.temporal import as_of_join

    left = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "a", 5), (4, "b", 100)],
        "id bigint, k string, ts bigint",
    )
    right = spark.createDataFrame(
        [("a", 10, 1.0), ("a", 15, 2.0), ("c", 1, 9.0)],
        "k string, ts bigint, v double",
    )
    out = {
        r.id: r.v_asof
        for r in as_of_join(left, right, "k", "ts", "ts", ["v"]).collect()
    }
    assert out == {1: 1.0, 2: 2.0, 3: None, 4: None}


def test_as_of_join_null_payload_from_matched_row(spark):
    """ASOF semantics for NULL payloads: the matched right row wins even
    when its payload value is NULL (must NOT fall back to an older
    row's value), and with several payload columns all values come from
    the SAME right row."""
    from indu_doc_transformer_spark.operators.temporal import as_of_join

    left = spark.createDataFrame([(1, "a", 30)], "id bigint, k string, ts bigint")
    right = spark.createDataFrame(
        [("a", 10, 1.0, "old"), ("a", 20, None, "new")],
        "k string, ts bigint, v double, s string",
    )
    r = as_of_join(left, right, "k", "ts", "ts", ["v", "s"]).collect()[0]
    # the ts=20 row is the as-of match: v is its NULL, s is its 'new'
    assert r.v_asof is None and r.s_asof == "new"


def test_as_of_join_bucketed_matches_plain(spark):
    """The skew-safe bucketed as-of must equal the single-window form
    on a hot-keyed random dataset for ANY bucket width — including a
    width spanning everything (pure carry degenerates) and a tiny one
    (pure in-bucket fill degenerates) — plus negative timestamps and
    the null-payload-from-matched-row rule."""
    import random

    from indu_doc_transformer_spark.operators.temporal import (
        as_of_join,
        as_of_join_bucketed,
    )

    rng = random.Random(7)
    rights = [
        (f"k{k}", t, None if t % 97 == 0 else float(k * 1000 + t))
        for k in range(3)
        for t in rng.sample(range(-200, 1000), 60)
    ]
    lefts = [
        (i, f"k{rng.randrange(3) if i % 5 else 0}", rng.randrange(-250, 1100))
        for i in range(400)
    ]
    left = spark.createDataFrame(lefts, "id bigint, k string, ts bigint")
    right = spark.createDataFrame(rights, "k string, ts bigint, v double")
    want = {
        r.id: r.v_asof for r in as_of_join(left, right, "k", "ts", "ts", ["v"]).collect()
    }
    for width in (7, 100, 100000):
        got = {
            r.id: r.v_asof
            for r in as_of_join_bucketed(
                left, right, "k", "ts", "ts", ["v"], bucket_width=width
            ).collect()
        }
        assert got == want, width


def test_range_join_negative_ts_and_duplicate_left(spark):
    """Bucket ids must FLOOR (cast-to-long truncates toward zero and
    misaligns negative timestamps), and genuinely duplicate left rows
    must each produce their matches."""
    from indu_doc_transformer_spark.operators.temporal import range_join

    left = spark.createDataFrame(
        [("a", -150), ("a", -150), ("b", 50)], "k string, ts bigint"
    )
    right = spark.createDataFrame(
        [("a", -100, 1.0), ("b", 120, 2.0)], "k string, ts bigint, v double"
    )
    out = range_join(left, right, "k", "ts", "ts", 0, 100, ["v"]).collect()
    # both duplicate left rows match the (-150 -> -100) pair
    a = [r for r in out if r.k == "a"]
    assert len(a) == 2 and all(r.v_r == 1.0 and r.ts_r == -100 for r in a)
    b = [r for r in out if r.k == "b"]
    assert len(b) == 1 and b[0].v_r == 2.0


def test_ann_ivf_full_probe_equals_bruteforce(spark):
    """With nprobe == num_cells every cell is searched, so IVF must
    return exactly the brute-force top-k (the approximation comes only
    from probing fewer cells)."""
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(60, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id bigint, embedding array<float>",
    )
    bf = {
        (r.probe_id, r.rank): r.vec_id
        for r in sim.ann_bruteforce_topk(df, "vec_id", "embedding", [0, 1], k=3).collect()
    }
    ivf = {
        (r.probe_id, r.rank): r.vec_id
        for r in sim.ann_ivf_topk(
            df, "vec_id", "embedding", [0, 1], k=3, num_cells=4, nprobe=4
        ).collect()
    }
    assert ivf == bf and len(ivf) == 6
    # restricted probing returns a subset of valid neighbors
    part = sim.ann_ivf_topk(
        df, "vec_id", "embedding", [0, 1], k=3, num_cells=4, nprobe=1
    ).collect()
    assert all(r.probe_id in (0, 1) and r.rank <= 3 for r in part)
    assert part


def test_multimodal_plumbing(spark):
    media = mm.synth_media_df(spark, 24)
    feats = mm.extract_features(media, fake=True).collect()
    assert len(feats) == 24
    assert all(len(r.feature) == mm.FEATURE_DIM and r.decode_ok for r in feats)
    # image rows go through the REAL BMP decode: feature = pixel stats
    img = next(r.feature for r in feats if r.media_id == 0)
    w, h, rgb_luma = mm.decode_bmp(
        mm.encode_bmp(8, 8, lambda x, y: ((x * 31) % 256, (y * 17) % 256, 0))
    )
    assert (w, h) == (8, 8)
    # feature column is float32: compare with float tolerance
    assert img[2:6] == pytest.approx(rgb_luma, rel=1e-5)
    # audio rows go through the REAL WAV PCM decode: feature = waveform stats
    samples = [((j * 38) % 2048 - 1024) * 16 for j in range(160)]
    rate, ns, stats = mm.decode_wav(mm.encode_wav(16000, samples))
    assert (rate, ns) == (16000, 160)
    got = next(r.feature for r in feats if r.media_id == 1)
    assert list(got[2:6]) == pytest.approx(stats, rel=1e-5)
    # video rows fall back to the deterministic md5 stand-in
    hv = hashlib.md5(hashlib.md5(b"media:2").digest() * 4).digest()
    fv = [hv[i] / 255.0 for i in range(mm.FEATURE_DIM)]
    got_v = next(r.feature for r in feats if r.media_id == 2)
    assert list(got_v) == pytest.approx(fv, rel=1e-5)


def test_bmp_roundtrip_exact():
    """Solid-color BMP decodes to exact channel means."""
    payload = mm.encode_bmp(5, 3, lambda x, y: (200, 100, 50))
    w, h, (mr, mg, mb, luma) = mm.decode_bmp(payload)
    assert (w, h) == (5, 3)
    assert (round(mr, 6), round(mg, 6), round(mb, 6)) == (
        round(200 / 255, 6),
        round(100 / 255, 6),
        round(50 / 255, 6),
    )
    assert round(luma, 6) == round(0.299 * mr + 0.587 * mg + 0.114 * mb, 6)


def test_multimodal_corrupt_payload_decode_ok_false(spark):
    """Planted truncated BMPs become decode_ok=False rows, never task
    failures."""
    media = mm.synth_media_df(spark, 24, corrupt_every=6)
    feats = mm.extract_features(media, fake=True).collect()
    corrupt = {r.media_id for r in feats if not r.decode_ok}
    # image ids are multiples of 3; corrupted where id % 6 == 0
    assert corrupt == {i for i in range(24) if i % 3 == 0 and i % 6 == 0}
    assert all(r.decode_ok for r in feats if r.media_id not in corrupt)


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"xx", fake=False)
    with pytest.raises(ValueError):
        # a corrupt BMP raises even with fake=True (real decode failure)
        mm.decode_image(mm.encode_bmp(4, 4, lambda x, y: (1, 2, 3))[:20], fake=True)
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"ID3\x04compressed", fake=False)  # non-RIFF → stub
    with pytest.raises(ValueError):
        # a corrupt WAV raises even with fake=True (real decode failure)
        mm.decode_audio(mm.encode_wav(8000, [1, 2, 3, 4])[:30], fake=True)
    with pytest.raises(NotImplementedError):
        mm.decode_video(b"anything", fake=False)


def test_wav_roundtrip_exact():
    """Constant/alternating waveforms decode to exact stats."""
    rate, n, (rms, peak, zcr, mean) = mm.decode_wav(mm.encode_wav(8000, [16384] * 100))
    assert (rate, n) == (8000, 100)
    assert (rms, peak, mean) == pytest.approx([0.5, 0.5, 0.5]) and zcr == 0.0
    _, _, (_, _, zcr2, mean2) = mm.decode_wav(
        mm.encode_wav(8000, [16384, -16384] * 50)
    )
    assert zcr2 == pytest.approx(1.0) and mean2 == 0.0


def test_multimodal_resize_and_frames(spark):
    media = mm.synth_media_df(spark, 12)
    rs = mm.resize_meta(media.where("kind = 'image'"), 32).collect()
    assert rs and all(r.new_width <= 32 and r.new_height <= 32 for r in rs)
    frames = mm.frame_sample_plan(media, 500)
    assert frames.count() > 0


def test_streaming_windowed_metrics(spark, tmp_path):
    from indu_doc_transformer_spark.sources.corpus import corpus_df
    from indu_doc_transformer_spark.streaming.stream import stream_metrics

    src = str(tmp_path / "msrc")
    corpus_df(spark, 40, partitions=2).write.mode("append").parquet(src)
    agg = stream_metrics(spark, src, str(tmp_path / "mcp"))
    q = (
        agg.writeStream.format("memory")
        .queryName("metrics_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from metrics_test").collect()
    assert sum(r.docs for r in rows) == 40
    assert any(r.page_type is not None and r.rows > 0 for r in rows)


def test_streaming_stateful_sessionize(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-user
    gap sessionization over the events stream. Sessions closed by a
    later event must match the batch computation exactly; every
    emitted session respects the gap rule."""
    from indu_doc_transformer_spark.streaming.stream import stream_sessionize

    # file streams need a directory source
    src = str(tmp_path / "events")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(src)
    out = stream_sessionize(spark, src, gap_seconds=300)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.sql("select * from sess_test").collect()
    }

    # batch expectation: per-user sorted event times, gap > 300s splits
    import collections

    from datetime import timezone

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "ts"
    ).collect()
    by_user = collections.defaultdict(list)
    for r in ev:
        # ts is TIMESTAMP_NTZ (naive); the session tz is UTC
        by_user[r.user_id].append(
            int(r.ts.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)
        )
    closed, trailing = set(), set()
    for uid, ts in by_user.items():
        ts.sort()
        start = last = ts[0]
        n = 1
        for t in ts[1:]:
            if t - last > 300_000_000:
                closed.add((uid, start, last, n))
                start = last = t
                n = 1
            else:
                last = t
                n += 1
        trailing.add((uid, start, last, n))
    assert got >= closed  # all closed-by-later-event sessions emitted
    assert got <= closed | trailing  # nothing else
    assert len(closed) > 0


def test_streaming_extract_incremental(spark, tmp_path):
    from indu_doc_transformer_spark.sources.corpus import corpus_df
    from indu_doc_transformer_spark.streaming.stream import stream_extract

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")

    corpus_df(spark, 30, partitions=2).write.mode("append").parquet(src)
    stream_extract(spark, src, out, cp)
    n1 = spark.read.parquet(out).count()
    assert n1 == 30

    # new arrivals only are processed on the next AvailableNow run
    extra = corpus_df(spark, 45, partitions=2).subtract(corpus_df(spark, 30, partitions=2))
    extra.write.mode("append").parquet(src)
    stream_extract(spark, src, out, cp)
    n2 = spark.read.parquet(out).count()
    assert n2 == 45


def test_decontamination_properties(spark):
    """n-gram decontamination: an exact copy of a benchmark doc is 100%
    contaminated and dropped; disjoint docs are clean; docs shorter
    than n have zero grams and count as clean."""
    from indu_doc_transformer_spark.operators.decontam import ngram_contamination

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # exact copy
            (2, "one two three four five six seven"),     # disjoint
            (3, "alpha beta gamma delta nope nope nope"), # partial overlap
            (4, "too short"),                              # < n tokens
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: r
        for r in ngram_contamination(train, bench, "doc_id", "text", n=4).collect()
    }
    assert out[1].contam_frac == 1.0 and out[1].keep == 0
    assert out[2].contam_frac == 0.0 and out[2].keep == 1
    assert 0.0 < out[3].contam_frac < 1.0
    assert out[4].n_grams == 0 and out[4].contam_frac == 0.0 and out[4].keep == 1


def test_pii_redaction(spark):
    """PII scrub: every pattern redacted, clean text untouched."""
    import pyspark.sql.functions as F

    from indu_doc_transformer_spark.operators import textstats as ts

    df = spark.createDataFrame(
        [
            (1, "mail me at a.b-c@sub.example.org now"),
            (2, "server 192.168.0.1 and phone +4915112345678"),
            (3, "nothing personal here"),
        ],
        "id int, text string",
    )
    out = {
        r.id: r
        for r in df.select(
            "id",
            ts.pii_count(F.col("text"), "EMAIL").alias("e"),
            ts.pii_count(F.col("text"), "IPV4").alias("i"),
            ts.pii_count(F.col("text"), "PHONE").alias("p"),
            ts.pii_redact(F.col("text")).alias("red"),
        ).collect()
    }
    assert (out[1].e, out[1].red) == (1, "mail me at <EMAIL> now")
    assert out[2].i == 1 and out[2].p == 1
    assert out[2].red == "server <IPV4> and phone <PHONE>"
    assert out[3].red == "nothing personal here"


def test_curation_funnel_stages(spark):
    """Each funnel stage drops exactly its target: duplicate copy,
    low-quality doc, repetitive doc, benchmark-contaminated doc; the
    clean doc survives every stage."""
    from indu_doc_transformer_spark.operators import curation as cur

    clean = "the quick brown fox jumps over lazy dogs today fine"
    docs = spark.createDataFrame(
        [
            (1, clean),
            (2, clean),                      # exact duplicate of 1
            (3, "tiny"),                     # < 5 words -> gopher drop
            (4, "spam ham " * 20),           # top-bigram ~0.5 -> repetition drop
            # long enough that the repetition thresholds pass (1/12
            # top-4-gram fraction), contaminated enough to be dropped
            # (4 of 12 distinct 4-grams are benchmark grams)
            (5, "well this intro leads into secret eval benchmark phrase appears here exactly and then ends"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "secret eval benchmark phrase appears here exactly")],
        "doc_id long, text string",
    )
    out = {r.id: r for r in cur.curate(docs, bench).collect()}
    assert (out[1].dedup_keep, out[1].keep) == (1, 1)
    assert (out[2].dedup_keep, out[2].keep) == (0, 0)
    assert (out[3].gopher_keep, out[3].rep_keep, out[3].decon_keep) == (0, 1, 1)
    assert (out[4].gopher_keep, out[4].rep_keep) == (1, 0)
    assert (out[5].decon_keep, out[5].dedup_keep, out[5].rep_keep) == (0, 1, 1)
    stats = cur.funnel_stats(cur.curate(docs, bench)).first()
    assert (stats.total, stats.kept) == (5, 1)
    assert (stats.drop_dedup, stats.drop_gopher, stats.drop_repetition,
            stats.drop_decontam) == (1, 1, 1, 1)


def test_token_shards_scalable_equals_direct(spark):
    """The distributed two-pass prefix sum must match the single-window
    layout exactly, for any partition count; shards respect the budget
    boundary rule (shard = floor(tokens-before / budget))."""
    from indu_doc_transformer_spark.operators import textstats as ts

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range((i * 7) % 23 + 1))) for i in range(200)],
        "doc_id long, text string",
    )
    direct = {r.id: (r.n_tokens, r.shard_id)
              for r in ts.token_shards(docs, "doc_id", "text", 50).collect()}
    for p in (1, 3, 16):
        two_pass = {
            r.id: (r.n_tokens, r.shard_id)
            for r in ts.token_shards_scalable(docs, "doc_id", "text", 50, p).collect()
        }
        assert two_pass == direct, p
    # boundary rule: cumulative-before // 50
    cum = 0
    for i in range(200):
        n, s = direct[i]
        assert s == cum // 50
        cum += n


def test_null_keys_survive_the_skew_rewrites(spark):
    """The window->aggregate+join rewrites must not silently DROP rows
    whose derived key is NULL: a window treats NULL as an ordinary
    partition value, so the join-backs are null-safe (curate on NULL
    text, source_caps on NULL source, url_dedup on NULL url)."""
    from indu_doc_transformer_spark.operators import curation as cur
    from indu_doc_transformer_spark.operators import sampling as sp

    docs = spark.createDataFrame(
        [(1, None), (2, None),
         (3, "the quick brown fox jumps over lazy dogs today fine"),
         (4, "unrelated")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, "unrelated eval words")],
                                  "doc_id long, text string")
    flags = {r.id: r for r in cur.curate(docs, bench, contam_n=3).collect()}
    assert set(flags) == {1, 2, 3, 4}       # nothing vanished
    assert (flags[1].dedup_keep, flags[2].dedup_keep) == (1, 0)  # ONE NULL-fp group
    # NULL text and a one-token document have no grams: clean on both
    for i in (1, 2, 4):
        assert (flags[i].rep_keep, flags[i].decon_keep) == (1, 1), i

    src = spark.createDataFrame(
        [(1, None), (2, None), (3, "a")], "doc_id long, source string"
    )
    caps = {r.id: (r.rank, r.keep)
            for r in sp.source_caps(src, "doc_id", "source", 1).collect()}
    assert caps == {1: (1, 1), 2: (None, 0), 3: (1, 1)}  # NULL = one stratum

    urls = spark.createDataFrame(
        [(1, None), (2, None), (3, "http://a.com/x")], "doc_id long, url string"
    )
    ud = {r.id: (r.dup_count, r.keep)
          for r in dd.url_dedup(urls, "doc_id", "url").collect()}
    assert ud == {1: (2, 1), 2: (2, 0), 3: (1, 1)}


def test_topk_degenerate_cosines_keep_window_order(spark):
    """A zero-norm candidate yields a NaN cosine; both engines order a
    DESC sort NaN-first, and the two-phase top-k must reproduce that
    (and NULLs-last) instead of dropping or misplacing them."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5]), (2, [0.0, 0.0]), (3, [1.0, 0.1])],
        "vec_id bigint, embedding array<float>",
    )
    rows = sorted(
        sim.ann_bruteforce_topk(df, "vec_id", "embedding", [0], k=4).collect(),
        key=lambda r: r.rank,
    )
    assert [r.vec_id for r in rows] == [2, 3, 1]  # NaN first, then cos DESC


def test_incremental_exact_dedup(spark):
    """Batch docs survive iff unseen in the history store AND first of
    their in-batch fp group; duplicate fps IN the store must not fan
    out the join (anti-join semantics)."""
    batch = spark.createDataFrame(
        [(10, "seen before"), (11, "brand new"), (12, "brand new"),
         (13, "also new")],
        "doc_id long, text string",
    )
    seen = spark.createDataFrame(
        [("seen before",), ("seen before",)], "t string"
    ).select(F.md5(F.lower(F.trim(F.regexp_replace("t", r"\s+", " ")))).alias("fp"))
    out = {r.id: r.keep for r in dd.incremental_exact_dedup(
        batch, seen, "doc_id", "text").collect()}
    assert out == {10: 0, 11: 1, 12: 0, 13: 1}


def test_canonical_url_cases(spark):
    """Canonicalization: case folding of scheme+host only, fragment
    strip, default-port strip, tracking-param removal (preserving the
    rest of the query), trailing-slash strip."""
    cases = [
        ("HTTP://WWW.Ex.COM/Path/", "http://www.ex.com/Path"),
        ("https://ex.com:443/a?utm_source=x&q=1#frag", "https://ex.com/a?q=1"),
        ("http://ex.com:80/", "http://ex.com"),
        ("http://ex.com/a?utm_a=1&utm_b=2", "http://ex.com/a"),
        ("http://ex.com/a?gclid=z&keep=2&fbclid=y", "http://ex.com/a?keep=2"),
        ("http://ex.com:8080/a", "http://ex.com:8080/a"),  # non-default port kept
        ("http://ex.com/A/B?x=1", "http://ex.com/A/B?x=1"),
        # a default-LOOKING port on the OTHER scheme is a distinct
        # origin and must be kept (scheme-conditional strip rule)
        ("https://ex.com:80/a", "https://ex.com:80/a"),
        ("http://ex.com:443/a", "http://ex.com:443/a"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i long, url string")
    got = {r.i: r.c for r in df.select("i", dd.canonical_url("url").alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i])
    out = {r.id: (r.dup_count, r.keep) for r in dd.url_dedup(
        spark.createDataFrame(
            [(1, "http://a.com/x/"), (2, "HTTP://A.COM/x"), (3, "http://b.com/y")],
            "doc_id long, url string"),
        "doc_id", "url").collect()}
    assert out == {1: (2, 1), 2: (2, 0), 3: (1, 1)}


def test_canonical_url_idempotent_and_clean(spark):
    """Invariants over the full combination grid (1440 URLs, one job):
    canonicalization is idempotent, never leaves a tracking param or
    fragment, lowercases the authority, and strips exactly the
    scheme's own default port (:80 for http, :443 for https)."""
    import itertools

    urls = [
        s + h + p + pa + q + f
        for s, h, p, pa, q, f in itertools.product(
            ["http://", "HTTP://", "https://"],
            ["Ex.COM", "WWW.site.ORG"],
            ["", ":80", ":443", ":8080"],
            ["", "/", "/A/b", "/A/b/"],
            ["", "?utm_source=1", "?a=1&utm_b=2&c=3", "?gclid=x", "?a=1"],
            ["", "#f", "#x?y=1"],
        )
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, url string")
    out = df.select(
        "i",
        "url",
        dd.canonical_url("url").alias("c1"),
        dd.canonical_url(dd.canonical_url("url")).alias("c2"),
    ).collect()
    for r in out:
        assert r.c1 == r.c2, (r.url, r.c1, r.c2)
        assert "#" not in r.c1 and "utm_" not in r.c1 and "gclid" not in r.c1, r.c1
        scheme, _, rest = r.c1.partition("://")
        auth = rest.split("/", 1)[0].split("?", 1)[0]
        assert auth == auth.lower(), r.c1
        # only the scheme's OWN default port is stripped; the other
        # scheme's default is a real non-default port and survives
        default = ":80" if scheme == "http" else ":443"
        other = ":443" if scheme == "http" else ":80"
        assert not auth.endswith(default), r.c1
        raw_auth = (r.url.split("://", 1)[1].split("/", 1)[0]
                    .split("?", 1)[0].split("#", 1)[0])
        if raw_auth.endswith(other):
            assert auth.endswith(other), (r.url, r.c1)
        if ":8080" in r.url:
            assert ":8080" in r.c1, r.c1  # non-default port preserved


def test_line_dedup_first_occurrence_wins(spark):
    """Global line dedup keeps each line's first (doc, position)
    occurrence; later docs lose repeated lines; fully-absorbed docs
    vanish."""
    docs = spark.createDataFrame(
        [
            (1, "alpha one\nbeta two\ngamma three"),
            (2, "beta two\ndelta four"),       # loses 'beta two'
            (3, "alpha one\ngamma three"),     # fully absorbed
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in dd.line_dedup(docs, "doc_id", "text").collect()}
    assert set(out) == {1, 2}
    assert out[1].n_lines == 3
    assert out[2].n_lines == 1
    import hashlib
    assert out[2].text_md5 == hashlib.md5(b"delta four").hexdigest()


def test_wav_malformed_raises_valueerror_not_task_failure(spark):
    """Malformed RIFF payloads must raise ValueError (caught per-row),
    never struct.error/ZeroDivisionError (which would kill the task)."""
    import struct as st

    # >= 44 bytes so the fmt-chunk-size guard itself is exercised (a
    # shorter payload trips the length gate before reaching it)
    short_fmt = (
        b"RIFF" + st.pack("<I", 40) + b"WAVE"
        + b"fmt " + st.pack("<I", 4) + b"\x01\x00\x01\x00"
        + b"data" + st.pack("<I", 16) + b"\x00" * 16
    )
    assert len(short_fmt) >= 44
    with pytest.raises(ValueError, match="short fmt chunk"):
        mm.decode_wav(short_fmt)
    zero_rate = mm.encode_wav(0, [1, 2, 3, 4])
    with pytest.raises(ValueError):
        mm.decode_wav(zero_rate)
    # end-to-end: a planted malformed audio payload becomes a
    # decode_ok=False row, not a task failure
    media = spark.createDataFrame(
        [(0, "audio", bytearray(short_fmt), None), (1, "audio", bytearray(zero_rate), None)],
        schema=mm.MEDIA_SCHEMA,
    )
    rows = mm.extract_features(media, fake=True).collect()
    assert len(rows) == 2 and not any(r.decode_ok for r in rows)


def test_riff_non_wave_container_falls_through_to_fake(spark):
    """A RIFF container that is NOT WAVE (e.g. RIFF/AVI) is another
    codec, not a corrupt WAV: with fake=True it must take the md5
    stand-in path (decode_ok=True), not surface as a decode failure
    (ADVICE r3)."""
    import hashlib
    import struct as st

    avi = b"RIFF" + st.pack("<I", 100) + b"AVI " + b"\x00" * 92
    feats = mm.decode_audio(avi, fake=True)
    h = hashlib.md5(avi).digest()
    assert feats == [h[i] / 255.0 for i in range(mm.FEATURE_DIM)]
    with pytest.raises(NotImplementedError):
        mm.decode_audio(avi, fake=False)
    # a corrupt RIFF/WAVE still raises (real decode failure)
    with pytest.raises(ValueError):
        mm.decode_audio(b"RIFF" + st.pack("<I", 8) + b"WAVE", fake=True)
    # a RIFF header truncated BEFORE its form tag is corrupt, not
    # another codec — must not slip through to the fake path
    with pytest.raises(ValueError):
        mm.decode_audio(b"RIFF" + st.pack("<I", 8) + b"WA", fake=True)


def test_decontamination_broadcast_gate_degrades_gracefully(spark):
    """Above the bench-size cap the broadcast hint is dropped and the
    join degrades to a plain join with IDENTICAL results (ADVICE r3:
    a misused bench input must not OOM the driver)."""
    from indu_doc_transformer_spark.operators import decontam as dc

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc {i} common tail phrase") for i in range(30)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "common tail phrase alpha beta")], "doc_id long, text string"
    )
    kw = dict(n=3, max_frac=0.2)
    hinted = dc.ngram_contamination(docs, bench, "doc_id", "text", **kw)
    gated = dc.ngram_contamination(
        docs, bench, "doc_id", "text", broadcast_max_bench_bytes=0, **kw
    )
    assert sorted(map(tuple, hinted.collect())) == sorted(map(tuple, gated.collect()))
    # the gate must read Catalyst's size estimate, never run a job: no
    # Spark jobs may fire while merely CONSTRUCTING the plan
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    dc.ngram_contamination(docs, bench, "doc_id", "text", **kw)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before


def test_gram_stats_fast_matches_sql(spark):
    """The Arrow gram-stats kernel path of both operators must be
    bit-identical to its explode+groupBy SQL reference — adversarial
    tokenization cases: null, empty, single token, tabs/newlines (Spark
    trim strips 0x20 only, so a leading tab yields a leading empty
    token), unicode case folding, heavy repetition, punctuation-glued
    tokens, and the shared adversarial tokenization cases."""
    from indu_doc_transformer_spark.operators import textstats as ts

    rows = [
        (0, None),
        (1, ""),
        (2, "one"),
        (3, "a b a b a b a b a b a b"),
        (4, "\t leading tab\nand newlines MIXED Case Tokens here now ok"),
        (5, ("x " * 30).strip()),
        (6, "für straße unicode tokens repeated für straße unicode tokens repeated"),
        (7, "p! q? r. s, " * 5),
        (8, "  spaces   collapse    here between   tokens   "),
    ]
    df = with_shared_cases(
        spark, spark.createDataFrame(rows, "doc_id long, text string")
    )
    for fn, ref in (
        (ts.top_ngram_stats, ts._top_ngram_stats_sql),
        (ts.dup_ngram_char_stats, ts._dup_ngram_char_stats_sql),
    ):
        kernel = {r.id: tuple(r)[1:] for r in fn(df, "doc_id", "text").collect()}
        sql = {r.id: tuple(r)[1:] for r in ref(df, "doc_id", "text").collect()}
        assert kernel == sql, fn.__name__
        assert set(kernel) >= {100, 101, 102}, fn.__name__


def test_dup_ngram_char_stats_planted(spark):
    """A doc that repeats a clause has every n-gram inside the repeated
    span duplicated; a no-repeat doc scores 0 everywhere."""
    from indu_doc_transformer_spark.operators import textstats as ts

    rep = "one two three four five six " * 3  # every 5..10-gram duplicated
    docs = spark.createDataFrame(
        [(1, rep.strip()), (2, "all tokens here are used just once only ever")],
        "doc_id long, text string",
    )
    out = {r.id: r for r in ts.dup_ngram_char_stats(docs, "doc_id", "text").collect()}
    assert out[1].dup5_frac == 1.0  # capped: overlapping grams overcount
    assert out[1].dup10_frac > 0.9
    assert all(getattr(out[2], f"dup{n}_frac") == 0.0 for n in range(5, 11))


def test_sequence_pack_invariants(spark):
    """GPT-style packing (textstats.sequence_pack): hand-checked slice
    map plus global invariants — per-doc slices reassemble the doc,
    every interior sequence is exactly full, offsets are consistent,
    and the result is invariant to the partition count (the
    distributed prefix sum cannot depend on partition bounds)."""
    from indu_doc_transformer_spark.operators import textstats as ts

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g h"), (3, ""), (4, "i j"), (5, "k l m n")],
        "doc_id long, text string",
    )
    out = {(r.id, r.seq_id): r for r in
           ts.sequence_pack(docs, "doc_id", "text", 4).collect()}
    # ws_token_count("") == 1 (split of '' -> ['']), the same family
    # semantics as token_shards on both engines. Stream: doc1 [0,3)
    # doc2 [3,8) doc3 [8,9) doc4 [9,11) doc5 [11,15); L=4
    assert set(out) == {(1, 0), (2, 0), (2, 1), (3, 2), (4, 2), (5, 2), (5, 3)}
    assert (out[(1, 0)].seq_offset, out[(1, 0)].doc_offset,
            out[(1, 0)].slice_len) == (0, 0, 3)
    assert (out[(2, 0)].seq_offset, out[(2, 0)].doc_offset,
            out[(2, 0)].slice_len) == (3, 0, 1)
    assert (out[(2, 1)].seq_offset, out[(2, 1)].doc_offset,
            out[(2, 1)].slice_len) == (0, 1, 4)
    assert (out[(4, 2)].seq_offset, out[(4, 2)].doc_offset,
            out[(4, 2)].slice_len) == (1, 0, 2)
    assert (out[(5, 3)].seq_offset, out[(5, 3)].doc_offset,
            out[(5, 3)].slice_len) == (0, 1, 3)

    big = spark.createDataFrame(
        [(i, "w " * (1 + i % 37)) for i in range(200)], "doc_id long, text string"
    )
    rows = ts.sequence_pack(big, "doc_id", "text", 64, partitions=8).collect()
    by_doc, by_seq = {}, {}
    for r in rows:
        by_doc.setdefault(r.id, []).append(r)
        by_seq.setdefault(r.seq_id, 0)
        by_seq[r.seq_id] += r.slice_len
    total = sum(1 + i % 37 for i in range(200))
    for i, slices in by_doc.items():
        assert sum(s.slice_len for s in slices) == 1 + i % 37
        for s in slices:
            assert 0 <= s.seq_offset < 64 and s.seq_offset + s.slice_len <= 64
    for sid, filled in by_seq.items():
        if sid < max(by_seq):
            assert filled == 64, (sid, filled)  # interior sequences full
    assert sum(by_seq.values()) == total
    # partition invariance
    alt = sorted((r.id, r.seq_id, r.seq_offset, r.doc_offset, r.slice_len)
                 for r in ts.sequence_pack(big, "doc_id", "text", 64,
                                           partitions=3).collect())
    assert alt == sorted((r.id, r.seq_id, r.seq_offset, r.doc_offset, r.slice_len)
                         for r in rows)


def test_semantic_contamination_planted(spark):
    """Embedding decontamination: an exact copy of a benchmark vector
    is flagged (cos=1), an orthogonal one is clean, a zero-norm vector
    (NaN cosine) fails closed as contaminated."""
    from indu_doc_transformer_spark.operators.decontam import \
        semantic_contamination

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    train = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0, 0.0]),   # same direction -> cos 1.0
            (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal -> cos 0.0
            (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite -> cos -1.0
            (4, [0.0, 0.0, 0.0, 0.0]),   # zero norm -> NaN, fail closed
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r.id: r for r in semantic_contamination(
        train, bench, "vec_id", "embedding", threshold=0.95).collect()}
    assert out[1].max_cos_sim == 1.0 and out[1].keep == 0
    assert out[2].max_cos_sim == 0.0 and out[2].keep == 1
    assert out[3].max_cos_sim == -1.0 and out[3].keep == 1
    import math
    assert math.isnan(out[4].max_cos_sim) and out[4].keep == 0


def test_semantic_contamination_empty_bench_keeps_all(spark):
    """An empty benchmark set must yield keep=1 for EVERY training doc
    (NULL max_cos_sim) — matching the n-gram gate's zero-gram
    semantics; an inner-join shape would silently drop the corpus."""
    from indu_doc_transformer_spark.operators.decontam import \
        semantic_contamination

    train = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    bench = train.where(F.col("vec_id") < 0)  # empty
    out = {r.id: r for r in semantic_contamination(
        train, bench, "vec_id", "embedding").collect()}
    assert set(out) == {1, 2}
    assert all(r.keep == 1 and r.max_cos_sim is None for r in out.values())


def test_duplicate_span_removal_planted(spark):
    """ExactSubstr-style span cut: a shared k-token span vanishes from
    BOTH occurrences (symmetric removal), unique text survives
    byte-exact, sub-k docs are kept whole."""
    import hashlib

    from indu_doc_transformer_spark.operators import dedup as dd2

    shared = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three four"),
            (2, f"{shared} five six seven eight"),
            (3, "totally unique words here nine ten"),
            (4, "tiny doc"),  # < k tokens: trivially kept
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in dd2.duplicate_span_removal(
        docs, "doc_id", "text", k=4).collect()}
    # the shared 4-token window is cut from both docs
    assert out[1].n_removed == 4 and out[2].n_removed == 4
    assert out[1].text_md5 == hashlib.md5(b"one two three four").hexdigest()
    assert out[2].text_md5 == hashlib.md5(b"five six seven eight").hexdigest()
    assert out[3].n_removed == 0
    assert out[3].text_md5 == hashlib.md5(
        b"totally unique words here nine ten").hexdigest()
    assert out[4].n_removed == 0 and out[4].n_tokens == 2


def test_temperature_weights_properties(spark):
    """tau-sampling: weights sum to 1; tau=1 reproduces natural
    frequency; tau<1 strictly upweights the smaller source relative to
    its natural share; rate_pct sized to the budget and capped at
    100."""
    from indu_doc_transformer_spark.operators import sampling as sp2

    df = spark.createDataFrame(
        [(i, "big" if i < 90 else "small") for i in range(100)],
        "doc_id long, source string",
    )
    w1 = {r.source: r for r in sp2.temperature_weights(
        df, "source", tau=1.0, budget_docs=50).collect()}
    assert abs(w1["big"].weight - 0.9) < 1e-6
    assert abs(w1["small"].weight - 0.1) < 1e-6
    assert w1["big"].rate_pct == 50 and w1["small"].rate_pct == 50
    w7 = {r.source: r for r in sp2.temperature_weights(
        df, "source", tau=0.7, budget_docs=200).collect()}
    assert abs(w7["big"].weight + w7["small"].weight - 1.0) < 1e-6
    assert w7["small"].weight > 0.1  # upweighted vs natural share
    assert w7["big"].weight < 0.9
    assert w7["small"].rate_pct == 100  # capped: budget exceeds source


def test_url_quality_planted(spark):
    """URL quality gate: each rule fires on its planted case; nulls,
    scheme-less urls, userinfo and ports handled."""
    from indu_doc_transformer_spark.operators import dedup as dd2

    rows = [
        (1, "https://www.ok.example.com/p/1"),              # clean
        (2, "https://img.example.com/a/b/logo.PNG"),        # bad_ext
        (3, "https://best-casino.example.com/x"),           # blocked_word
        (4, "https://www.example.com/play/xxx/page"),       # blocked in path
        (5, "https://1234567.89.example/x"),                # digit host
        (6, "https://ex.com/a/b/c/d/e/f/g/h/i/j/k/l"),      # deep path
        (7, "https://ex.com/p?" + "&".join(f"k{i}=v" for i in range(9))),  # params
        (8, "https://ex.com/" + "z" * 600),                 # long url
        (9, None),                                          # null url
        (10, "no-scheme-at-all"),                           # host='' -> unfetchable
        (11, "https://user:pw@Host.EX.com:8443/Path"),      # userinfo+port strip
        # '?' INSIDE the fragment is not a query string (SPA route)
        (12, "https://app.ex.com/#/search?" + "&".join(f"k{i}=v" for i in range(9))),
        (13, "https://ex.com/pic.jpg\n"),                   # \z: trailing \n -> no ext match
    ]
    out = {
        r.id: r
        for r in dd2.url_quality(
            spark.createDataFrame(rows, "id long, url string"), "id", "url"
        ).collect()
    }
    assert out[1].keep == 1 and out[1].n_flags == 0
    assert out[2].bad_ext == 1 and out[2].keep == 0
    assert out[3].blocked_word == 1
    assert out[4].blocked_word == 1
    assert out[5].digit_host == 1
    assert out[6].deep_path == 1
    assert out[7].many_params == 1 and out[7].keep == 0
    assert out[8].long_url == 1
    assert out[9].keep == 0 and out[9].n_flags == 0  # null: unfetchable
    # empty host = unfetchable: a PRE-FETCH gate must not forward it
    assert out[10].keep == 0 and out[10].host == "" and out[10].n_flags == 0
    assert out[11].host == "host.ex.com" and out[11].keep == 1
    assert out[12].many_params == 0 and out[12].keep == 1  # fragment != query
    assert out[13].bad_ext == 0  # \z anchors end-of-text in BOTH engines


def test_shard_manifest_verifies_delivery(spark):
    """The manifest's contract: an independently-computed re-xor of a
    delivered shard's rows equals content_hash, counts and id ranges
    match, and shard totals partition the corpus."""
    import hashlib

    from indu_doc_transformer_spark.operators import textstats as ts2

    rows = [(i, f"doc {i} " + "tok " * (i % 7)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    man = {r.shard_id: r for r in
           ts2.shard_manifest(df, "doc_id", "text", 25).collect()}
    assert len(man) > 2
    # independent re-computation, row by row (the consumer's side)
    order = []
    for i, text in rows:
        n = len(text.strip().split())
        h = int(hashlib.md5(f"{i}:{text}".encode()).hexdigest()[:15], 16)
        order.append((i, n, h))
    cum = 0
    agg: dict = {}
    for i, n, h in order:
        sid = cum // 25
        cum += n
        a = agg.setdefault(sid, {"n_docs": 0, "n_tokens": 0, "xor": 0,
                                 "first": i, "last": i})
        a["n_docs"] += 1
        a["n_tokens"] += n
        a["xor"] ^= h
        a["last"] = i
    assert set(agg) == set(man)
    for sid, a in agg.items():
        m = man[sid]
        assert (m.n_docs, m.n_tokens, m.first_id, m.last_id) == (
            a["n_docs"], a["n_tokens"], a["first"], a["last"])
        assert m.content_hash == a["xor"], sid
    assert sum(m.n_docs for m in man.values()) == len(rows)
    # the 100-TB path is a literal drop-in: same manifest through the
    # distributed-prefix-sum assignment (one formula, never copied)
    scalable = {r.shard_id: tuple(r) for r in ts2.shard_manifest(
        df, "doc_id", "text", 25, assign=ts2.token_shards_scalable
    ).collect()}
    assert scalable == {k: tuple(v) for k, v in man.items()}


def test_url_quality_total_on_adversarial_urls(spark):
    """Totality sweep: url_quality never throws and keeps its flag
    invariants (0/1 flags, n_flags = sum, keep consistent) over a
    seeded batch of pathological strings — empty, no scheme, bare
    scheme, unicode, control chars, regex metachars, giant tokens."""
    import random

    rng = random.Random(20260817)
    alphabet = "ab/:?#&=.%@09é中 \t\n\\()[]{}*+|^$"
    rows = [(i, "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 120))))
            for i in range(400)]
    rows += [
        (1000, ""), (1001, "://"), (1002, "https://"), (1003, "?a=1"),
        (1004, "http://" + "a" * 5000), (1005, "ftp://x@y:99/z"),
        (1006, None), (1007, "https://h/" + "%41" * 200),
    ]
    from indu_doc_transformer_spark.operators import dedup as dd2

    out = dd2.url_quality(
        spark.createDataFrame(rows, "id long, url string"), "id", "url"
    ).collect()
    assert len(out) == len(rows)
    flag_cols = ["bad_ext", "blocked_word", "digit_host", "deep_path",
                 "long_url", "many_params"]
    for r in out:
        vals = [getattr(r, c) for c in flag_cols]
        assert all(v in (0, 1) for v in vals), r
        assert r.n_flags == sum(vals), r
        if r.url is None or r.host == "":
            assert r.keep == 0, r  # unfetchable
        else:
            assert r.keep == (1 if r.n_flags == 0 else 0), r


def test_corpus_report_planted(spark):
    """Data-card panel: counts, token totals, and the exact-dup
    fraction from the normalized fingerprint."""
    from indu_doc_transformer_spark.operators import textstats as ts2

    df = spark.createDataFrame(
        [
            (1, "web", "one two three"),
            (2, "web", "ONE   two Three"),  # normalized dup of 1
            (3, "web", "four five"),
            (4, "books", "alpha beta gamma delta"),
        ],
        "doc_id long, source string, text string",
    )
    out = {r.source: r for r in ts2.corpus_report(df, "source", "text").collect()}
    assert out["web"].n_docs == 3 and out["web"].total_tokens == 8
    assert out["web"].n_distinct == 2
    assert abs(out["web"].exact_dup_frac - (1 - 2 / 3)) < 1e-6
    assert out["books"].n_docs == 1 and out["books"].exact_dup_frac == 0.0
    assert abs(out["web"].mean_tokens - 8 / 3) < 1e-5


def test_corpus_report_approx_within_rsd(spark):
    """approx=True swaps countDistinct for an HLL sketch: the mapper
    emits one fixed-size partial per source (the 100-TB data-card
    mode). Must agree with exact within ~3x the 5% default rsd, and
    the plan must actually use approx_count_distinct (no (source,_fp)
    expand shuffle)."""
    from indu_doc_transformer_spark.operators import textstats as ts2

    df = spark.range(2000).select(
        F.when(F.col("id") % 3 == 0, "web").otherwise("books").alias("source"),
        # ~50% duplicate fingerprints per source
        F.concat(F.lit("doc "), (F.col("id") % 1000).cast("string")).alias("text"),
    )
    exact = {r.source: r for r in ts2.corpus_report(df, "source", "text").collect()}
    approx = {
        r.source: r
        for r in ts2.corpus_report(df, "source", "text", approx=True).collect()
    }
    for s in exact:
        assert approx[s].n_docs == exact[s].n_docs  # counts stay exact
        assert approx[s].total_tokens == exact[s].total_tokens
        rel = abs(approx[s].n_distinct - exact[s].n_distinct) / exact[s].n_distinct
        assert rel <= 0.15, (s, approx[s].n_distinct, exact[s].n_distinct)
        # HLL overestimates are clamped: a data card never reports
        # n_distinct > n_docs or a negative dup fraction
        assert approx[s].n_distinct <= approx[s].n_docs
        assert approx[s].exact_dup_frac >= 0.0
    plan = ts2.corpus_report(df, "source", "text", approx=True)._jdf.queryExecution().optimizedPlan().toString()
    assert "approx_count_distinct" in plan
    assert "approx_count_distinct" not in ts2.corpus_report(
        df, "source", "text"
    )._jdf.queryExecution().optimizedPlan().toString()
