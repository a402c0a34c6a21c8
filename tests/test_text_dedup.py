"""Text analysis + dedup operator goldens."""

import pytest
from pyspark.sql import functions as F

from vtshaver_spark.functions.text import (
    bpe_ish_token_count,
    fingerprint64,
    lang_guess,
    quality_score,
    shingles,
    stopword_ratio,
    token_count,
)
from vtshaver_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard,
    simhash64,
    simhash_near_dups,
)

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog and runs into the woods"),
    (2, "The quick brown fox jumps over the lazy dog and runs into the woods"),  # exact dup of 1
    (3, "The quick brown fox jumps over the lazy dog and runs into the forest"),  # near dup of 1
    (4, "Der schnelle braune Fuchs springt und das ist ein deutscher Satz mit der die das"),
    (5, "completely different content about spark query engines and columnar execution"),
    (6, "the quick  brown fox jumps over the lazy dog and runs into the woods"),  # ws/case variant of 1
    (7, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_token_count(spark, docs):
    out = {r["doc_id"]: r["n"] for r in docs.select("doc_id", token_count(F.col("text")).alias("n")).collect()}
    assert out[1] == 14
    assert out[7] == 0


def test_bpe_ish_token_count(spark, docs):
    out = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", bpe_ish_token_count(F.col("text")).alias("n")).collect()
    }
    # subword count >= word count, 0 for empty
    assert out[1] >= 14 and out[7] == 0


def test_quality_and_stopwords(spark, docs):
    out = {
        r["doc_id"]: (r["q"], r["s"])
        for r in docs.select(
            "doc_id",
            quality_score(F.col("text"), F.length("text")).alias("q"),
            stopword_ratio(F.col("text")).alias("s"),
        ).collect()
    }
    assert out[1][0] > out[7][0]
    assert out[1][1] > 0.2  # 'the/and' heavy
    assert out[7][1] == 0.0


def test_lang_guess(spark, docs):
    out = {r["doc_id"]: r["l"] for r in docs.select("doc_id", lang_guess(F.col("text")).alias("l")).collect()}
    assert out[1] == "en"
    assert out[4] == "de"
    assert out[7] == "und"


def test_exact_dedup_normalized(spark, docs):
    groups = exact_dedup(docs).collect()
    by_keeper = {r["keeper_id"]: r["group_size"] for r in groups}
    # 1, 2 and the whitespace/case variant 6 normalize identically
    assert by_keeper[1] == 3
    assert by_keeper[3] == 1


def test_minhash_lsh_finds_near_dups(spark, docs):
    cands = minhash_lsh_candidates(docs, num_hashes=32, bands=16, shingle_n=3)
    verified = ngram_jaccard(docs, cands).filter(F.col("jaccard") >= 0.6)
    pairs = {(r["doc_a"], r["doc_b"]) for r in verified.collect()}
    assert (1, 2) in pairs  # identical
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup
    assert all(5 not in p for p in pairs)  # unrelated doc never pairs


def test_simhash_hamming(spark, docs):
    sims = {r["doc"]: r["simhash"] for r in simhash64(docs).collect()}
    assert sims[1] == sims[2]  # identical docs, identical fingerprints

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(sims[1], sims[3]) < ham(sims[1], sims[5])


def test_simhash_near_dups(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dups(docs, max_hamming=10, blocks=16).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 0
    assert all({a, b} != {1, 5} for a, b in pairs)


def test_simhash_pigeonhole_guard(spark, docs):
    # blocks <= max_hamming silently violates the recall guarantee —
    # must be rejected (ADVICE r1)
    import pytest

    with pytest.raises(ValueError, match="blocks > max_hamming"):
        simhash_near_dups(docs, max_hamming=6, blocks=4)


def test_portable_hash_modes_match_structure(spark, docs):
    # portable and fast modes share pipeline structure: same candidate
    # pair semantics on identical content (exact dups collide under
    # any hash family)
    from vtshaver_spark.operators.dedup import minhash_lsh_candidates

    for mode in ("fast", "portable"):
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_candidates(docs, hash_mode=mode).collect()
        }
        assert (1, 2) in pairs, mode


def test_fingerprint_normalization(spark, docs):
    fps = {
        r["doc_id"]: r["fp"]
        for r in docs.select("doc_id", fingerprint64(F.col("text")).alias("fp")).collect()
    }
    assert fps[1] == fps[2] == fps[6]
    assert fps[1] != fps[3]


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    out = df.select(shingles(F.col("text"), 3).alias("s")).collect()[0]["s"]
    assert out == ["a b c", "b c d"]
    short = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    assert short.select(shingles(F.col("text"), 3).alias("s")).collect()[0]["s"] == []


def test_minhash_family_independence(spark):
    # regression (r2): an affine family WITHOUT a modulus is monotonic,
    # every MIN picks the same shingle, and unrelated docs collide on
    # all bands. Distinct-content docs must produce ZERO candidates.
    import hashlib as _h

    from vtshaver_spark.operators.dedup import minhash_lsh_candidates

    def words(i):
        return " ".join(
            _h.md5(f"{i}:{k}".encode()).hexdigest()[:8] for k in range(30)
        )

    docs = spark.createDataFrame(
        [(i, words(i)) for i in range(60)], "doc_id long, text string"
    )
    assert minhash_lsh_candidates(docs).count() == 0


def test_jaccard_similarity_join_exact_recall(spark, docs):
    # the prefix-filter join must equal brute-force all-pairs Jaccard
    # at the threshold (the exactness claim the driver oracle relies on)
    from vtshaver_spark.operators.dedup import jaccard_similarity_join

    got = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in jaccard_similarity_join(docs, 0.4).collect()
    }
    ids = docs.select(F.col("doc_id").alias("_x")).distinct()
    pairs = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("a._x") < F.col("b._x"))
        .select(F.col("a._x").alias("doc_a"), F.col("b._x").alias("doc_b"))
    )
    want = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard(docs, pairs).filter(F.col("jaccard") >= 0.4).collect()
    }
    assert got == want and len(got) >= 3  # 1-2 exact, 1-3/2-3 near, 1-6/2-6 variants


def test_jaccard_similarity_join_integer_boundary_recall(spark):
    # regression: when t*|X| is an INTEGER the old floor-based prefix
    # (|X| - floor(t*|X|)) was one token short and missed qualifying
    # pairs. Construction: B ⊆ A with |B| = t*|A| gives J = t exactly;
    # A's private tokens are rarer (df=1 < 2) so they fill A's entire
    # short prefix while B's prefix holds only shared tokens — under
    # the fixed ceil prefix the pair must surface.
    from vtshaver_spark.operators.dedup import jaccard_similarity_join

    df = spark.createDataFrame(
        [("d1", "w x y z"), ("d2", "y z")], "doc_id string, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_similarity_join(df, 0.5, shingle_n=1).collect()
    }
    assert ("d1", "d2") in got


def test_jaccard_similarity_join_threshold_validation(spark, docs):
    from vtshaver_spark.operators.dedup import jaccard_similarity_join

    with pytest.raises(ValueError):
        jaccard_similarity_join(docs, 1.0)


# ---------------------------------------------------------------------------
# neardup_components (pairs -> dedup decisions)
# ---------------------------------------------------------------------------

def _components(spark, pairs):
    from vtshaver_spark.operators.dedup import neardup_components

    df = spark.createDataFrame(pairs, "doc_a string, doc_b string")
    return {
        r["node"]: r["rep"] for r in neardup_components(df).collect()
    }


def test_components_chain_converges_to_min(spark):
    # a 6-hop path: every node must reach the global min 'a'
    chain = [(c1, c2) for c1, c2 in zip("abcdef", "bcdefg")]
    got = _components(spark, chain)
    assert got == {c: "a" for c in "abcdefg"}


def test_components_separate_clusters_and_direction(spark):
    # two components; pair order reversed in one (propagation must
    # flow both directions); min label sits at the 'b' side once
    pairs = [("x2", "x1"), ("x2", "x3"), ("y9", "y8")]
    got = _components(spark, pairs)
    assert got == {
        "x1": "x1", "x2": "x1", "x3": "x1", "y8": "y8", "y9": "y8",
    }


def test_components_matches_bruteforce_bfs(spark):
    # random-ish deterministic graph vs a pure-python union-find
    pairs = [
        (f"d{(i * 7) % 23:02d}", f"d{(i * 11 + 3) % 23:02d}")
        for i in range(18)
        if (i * 7) % 23 != (i * 11 + 3) % 23
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    expect = {}
    for a, b in pairs:
        for n in (a, b):
            expect[n] = min(
                m for m in parent if find(m) == find(n)
            )
    assert _components(spark, pairs) == expect


def test_components_nonconvergence_raises(spark):
    from vtshaver_spark.operators.dedup import neardup_components

    chain = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(8)]
    df = spark.createDataFrame(chain, "doc_a string, doc_b string")
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_components(df, max_iter=2)


# ---------------------------------------------------------------------------
# Robust winnowing (rolling-hash positional fingerprints)
# ---------------------------------------------------------------------------

def _ref_winnow(text, n=3, w=4):
    """Independent brute-force robust winnowing (per-window rightmost
    min) with the portable md5 hash — the Schleimer et al. definition,
    NOT the window-explicit reformulation the operator uses."""
    import hashlib
    import re as _re

    toks = _re.findall(r"[a-z0-9]+", text.lower())
    grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]

    def h(g):
        return int.from_bytes(
            hashlib.md5(g.encode()).digest()[8:16], "little"
        ) % (1 << 60)

    hs = [h(g) for g in grams]
    sel = set()
    for j in range(0, len(hs) - w + 1):
        win = hs[j:j + w]
        m = min(win)
        p = j + max(i for i, v in enumerate(win) if v == m)
        sel.add((p, hs[p]))
    return sel


def test_winnow_matches_reference_definition(spark):
    from vtshaver_spark.operators.dedup import winnow_fingerprints

    texts = [
        ("d1", "the quick brown fox jumps over the lazy dog and then "
               "the quick brown fox naps under the warm sun all day"),
        ("d2", "completely different words compose this second sample "
               "document about spark distributed query execution plans"),
        ("d3", "short text here"),  # 1 shingle < window -> no output
    ]
    df = spark.createDataFrame(texts, "doc_id string, text string")
    got = {}
    rows = winnow_fingerprints(df, hash_mode="portable").collect()
    for r in rows:
        got.setdefault(r["doc"], set()).add((r["pos"], r["fp"]))
    assert got.get("d3") is None
    for d, text in texts[:2]:
        assert got[d] == _ref_winnow(text), d


def test_winnow_guarantee_and_overlap_pairs(spark):
    """Any shared passage of >= window + n - 1 tokens must yield a
    shared fingerprint (the MOSS detection guarantee), and
    winnow_overlap_pairs must surface exactly the planted pair."""
    from vtshaver_spark.operators.dedup import winnow_overlap_pairs

    passage = "seven shared tokens appear here verbatim exactly"
    rows = [
        ("a", f"unrelated prefix words galore {passage} suffix drivel ok"),
        ("b", f"other beginning material {passage} distinct tail matter"),
        ("c", "nothing in common with anything else at all whatsoever "
              "just filler text to pad out the shingle count"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["shared"]
        for r in winnow_overlap_pairs(df, min_shared=1).collect()
    }
    assert ("a", "b") in pairs
    assert all({p[0], p[1]} == {"a", "b"} for p in pairs)


def test_minhash_bands_validated_and_capped_sink(spark):
    from vtshaver_spark.operators.dedup import minhash_lsh_candidates

    df = spark.createDataFrame(
        [(i, "the same boilerplate text repeated here") for i in range(8)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_candidates(df, num_hashes=16, bands=32)
    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_candidates(df, num_hashes=32, bands=5)
    # identical docs collapse into one bucket per band: a cap of 4
    # drops them all, and the sink must surface the dropped buckets
    sink = []
    pairs = minhash_lsh_candidates(
        df, num_hashes=16, bands=4, max_bucket_size=4, capped_sink=sink
    )
    assert pairs.count() == 0
    (capped,) = sink
    rows = capped.collect()
    assert len(rows) == 4  # one per band
    assert all(r["bucket_size"] == 8 for r in rows)
    assert sorted(rows[0]["docs"]) == list(range(8))


def test_hamming_block_join_bucket_cap(spark):
    from vtshaver_spark.operators.dedup import hamming_block_join

    df = spark.createDataFrame(
        [(i, 0) for i in range(6)], "doc_id long, fp long"
    )
    # all-zero fingerprints collapse into one bucket per block
    full = hamming_block_join(df, "doc_id", "fp", max_hamming=3, blocks=4)
    assert full.count() == 15  # 6 choose 2
    capped = hamming_block_join(
        df, "doc_id", "fp", max_hamming=3, blocks=4, max_bucket_size=5
    )
    assert capped.count() == 0
    # ADVICE r5: the cap must be OBSERVABLE — dropped buckets land in
    # the sink instead of silently reading as "no duplicates"
    sink = []
    capped2 = hamming_block_join(
        df, "doc_id", "fp", max_hamming=3, blocks=4,
        max_bucket_size=5, capped_sink=sink,
    )
    assert capped2.count() == 0
    dropped = sink[0].collect()
    assert len(dropped) == 4  # one saturated bucket per block
    assert all(r["bucket_size"] == 6 for r in dropped)
    assert sorted(dropped[0]["docs"]) == [0, 1, 2, 3, 4, 5]
    # and max_bucket_size=None restores the exact uncapped contract
    uncapped = hamming_block_join(
        df, "doc_id", "fp", max_hamming=3, blocks=4, max_bucket_size=None
    )
    assert uncapped.count() == 15
