"""Brute-force cross-checks for the sketch dedup operators (dd3/dd4).

MinHash+LSH and SimHash are the two rows-only operators with no SQL oracle,
so they get the asof-join treatment (test_random_crosscheck.py): a seeded
corpus small enough to compare against exact O(n²) references computed in
plain Python/numpy.

What is guaranteed vs probabilistic:
- minhash_lsh_pairs verifies candidates with EXACT shingle Jaccard, so
  precision is 1.0 by construction — every emitted pair must appear in the
  brute-force set with an identical Jaccard value. Recall is probabilistic
  (a pair is seen only if some band collides: p = 1-(1-J^r)^b), so the test
  asserts recall == 1.0 only in the high-similarity band (J ≥ 0.85, where
  p ≈ 0.998 per pair) and a floor on the full ≥-threshold set. xxhash64 is
  deterministic, so for this fixed corpus the outcome never flips.
- simhash_pairs banding is 4×16-bit pigeonhole chunks on a 63-bit signature:
  any pair within Hamming distance 3 MUST share a chunk — recall for d ≤ 3
  is exactly 1.0, not probabilistic. Emitted distances are exact bit_count
  values, so every emitted pair must match the brute-force distance.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from dbt_analytics_spark.operators.dedup import (
    minhash_lsh_pairs,
    simhash_from_votes,
    simhash_pairs,
    simhash_votes,
)

RNG = np.random.default_rng(7)


def _corpus() -> list[tuple[int, str]]:
    """60 random 40-token docs + 20 planted near-dups (1 token replaced)
    + 5 mid-similarity variants (6 tokens replaced)."""
    vocab = [f"w{i:03d}" for i in range(300)]
    docs = [(i, " ".join(RNG.choice(vocab, 40))) for i in range(60)]
    next_id = 1000
    for i in range(0, 40, 2):  # 20 high-similarity near-dups
        toks = docs[i][1].split(" ")
        toks[int(RNG.integers(0, 40))] = f"zz{i}"
        docs.append((next_id, " ".join(toks)))
        next_id += 1
    for i in range(41, 51, 2):  # 5 mid-similarity variants
        toks = docs[i][1].split(" ")
        for pos in RNG.choice(40, 6, replace=False):
            toks[int(pos)] = f"yy{i}_{pos}"
        docs.append((next_id, " ".join(toks)))
        next_id += 1
    return docs


def _py_shingles(text: str, k: int = 3) -> frozenset[str]:
    toks = text.split(" ")
    if len(toks) >= k:
        return frozenset(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))
    return frozenset([" ".join(toks)])


def test_minhash_lsh_matches_bruteforce_jaccard(spark):
    docs = _corpus()
    shingle_sets = {i: _py_shingles(t) for i, t in docs}
    ids = sorted(shingle_sets)
    exact = {}
    for a_pos, a in enumerate(ids):
        for b in ids[a_pos + 1 :]:
            sa, sb = shingle_sets[a], shingle_sets[b]
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.5:
                exact[(a, b)] = j
    assert len(exact) >= 20  # the planted pairs are present in the reference

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }

    # Precision 1.0: every emitted pair is a true ≥-threshold pair, with the
    # exact Jaccard value (the operator's verify step IS exact Jaccard).
    for pair, j in got.items():
        assert pair in exact, f"false positive {pair} (j={j})"
        assert abs(j - exact[pair]) < 1e-9, (pair, j, exact[pair])

    # Recall 1.0 in the high-similarity band (collision prob ≈ 0.998/pair,
    # deterministic for this corpus under xxhash64).
    high = {p for p, j in exact.items() if j >= 0.85}
    assert high, "corpus must plant high-similarity pairs"
    missed_high = high - set(got)
    assert not missed_high, f"missed high-similarity pairs: {missed_high}"

    # Floor on overall recall at the threshold (banding curve tail).
    recall = len(set(got) & set(exact)) / len(exact)
    assert recall >= 0.6, f"overall recall {recall:.2f} below floor"


def test_simhash_matches_bruteforce_hamming(spark):
    docs = _corpus()
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    # Brute-force reference: all-pairs Hamming over the same signatures
    # (signature fn shared; the banding + bucket join is what's under test).
    sigs = {
        r["doc"]: r["sig"]
        for r in df.select(
            F.col("doc_id").alias("doc"), simhash_votes("text").alias("__v")
        )
        .select("doc", simhash_from_votes(F.col("__v")).alias("sig"))
        .collect()
    }
    ids = sorted(sigs)
    expect = {}
    for a_pos, a in enumerate(ids):
        for b in ids[a_pos + 1 :]:
            d = int(sigs[a] ^ sigs[b]).bit_count()
            if d <= 8:
                expect[(a, b)] = d
    assert len(expect) >= 15  # planted near-dups land within distance 8

    got = {
        (r["doc1"], r["doc2"]): r["hamming"]
        for r in simhash_pairs(df, "doc_id", "text", max_hamming=8).collect()
    }

    # Every emitted pair is real, with the exact distance.
    for pair, d in got.items():
        assert pair in expect, f"false positive {pair} (d={d})"
        assert d == expect[pair], (pair, d, expect[pair])

    # Pigeonhole guarantee: d ≤ 3 ⇒ some 16-bit chunk is identical ⇒ the
    # pair MUST be emitted. This is exact, not probabilistic.
    guaranteed = {p for p, d in expect.items() if d <= 3}
    missed = guaranteed - set(got)
    assert not missed, f"pigeonhole-guaranteed pairs missed: {missed}"

    # Planted 1-token-replacement dups should mostly sit within distance 8;
    # assert a recall floor over the full ≤8 set.
    recall = len(set(got) & set(expect)) / len(expect)
    assert recall >= 0.7, f"recall {recall:.2f} below floor"


def test_blank_docs_are_dropped_not_skew_bombs(spark):
    """Blank/whitespace docs must not form a hot bucket (they'd all collide
    in every band) — they are filtered before sketching, and real pairs are
    unaffected."""
    docs = _corpus()
    blanks = [(9000 + i, t) for i, t in enumerate(["", "   ", "\t\n ", "", " "])]
    df = spark.createDataFrame(docs + blanks, ["doc_id", "text"])

    base = {
        (r["doc1"], r["doc2"])
        for r in minhash_lsh_pairs(
            spark.createDataFrame(docs, ["doc_id", "text"]), "doc_id", "text", threshold=0.5
        ).collect()
    }
    got = {
        (r["doc1"], r["doc2"])
        for r in minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    assert got == base  # no blank-blank pairs, no lost real pairs

    sh = {
        (r["doc1"], r["doc2"])
        for r in simhash_pairs(df, "doc_id", "text", max_hamming=8).collect()
    }
    assert not any(d1 >= 9000 or d2 >= 9000 for d1, d2 in sh)


def test_salted_lsh_identical_pairs_on_hot_bucket(spark):
    """A boilerplate-heavy corpus (40 near-identical docs → one giant LSH
    bucket) must produce the IDENTICAL pair set with salting on, while the
    candidate join spreads the hot bucket over n_salts reducers."""
    boiler = " ".join(f"tpl{i}" for i in range(40))
    docs = _corpus()
    hot = []
    for i in range(40):  # one token appended → all mutually similar
        hot.append((5000 + i, boiler + f" uniq{i % 4}"))
    df = spark.createDataFrame(docs + hot, ["doc_id", "text"])

    plain = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    salted = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", threshold=0.5, n_salts=8
        ).collect()
    }
    assert set(salted) == set(plain)
    for pair, j in salted.items():
        assert abs(j - plain[pair]) < 1e-12
    # The hot clique really is hot: all C(40,2)-scale pairs among 5000+ ids.
    hot_pairs = [p for p in plain if p[0] >= 5000 and p[1] >= 5000]
    assert len(hot_pairs) > 400


def test_concurrent_lsh_calls_keep_live_indexes(spark):
    """Project.run() executes nodes in a thread pool: concurrent
    minhash_lsh_pairs calls must not unpersist each other's live shingle
    index (bounded lock-guarded FIFO), and every call must return the right
    pairs."""
    from concurrent.futures import ThreadPoolExecutor

    from dbt_analytics_spark.operators import dedup

    docs = _corpus()
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    expect = {
        (r["doc1"], r["doc2"])
        for r in minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }

    def run(_):
        out = minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5)
        return {(r["doc1"], r["doc2"]) for r in out.collect()}

    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(run, range(4)))
    for got in results:
        assert got == expect

    with dedup._INDEX_LOCK:
        n_cached = len(dedup._PERSISTED_INDEXES)
    assert n_cached <= dedup._INDEX_CACHE_KEEP
    dedup.release_shingle_indexes()
    with dedup._INDEX_LOCK:
        assert not dedup._PERSISTED_INDEXES


def test_gram_rows_equals_shingle_explode(spark):
    # gram_rows is the linear (posexplode+lead) reformulation of
    # explode(shingles(...)); pin exact set equality against the original
    # HOF definition so the perf rewrite can never drift semantically.
    from pyspark.sql import functions as F

    from dbt_analytics_spark.operators.dedup import gram_rows, shingles
    from dbt_analytics_spark.sources import load_testdata

    from .conftest import SF_DIR

    docs = load_testdata(spark, SF_DIR)["documents"].limit(200)
    for k in (2, 5, 13):
        fast = {
            (r["doc"], r["g"])
            for r in gram_rows(docs, "doc_id", "text", k).collect()
        }
        ref = {
            (r["doc"], r["g"])
            for r in docs.select(
                F.col("doc_id").alias("doc"),
                F.explode(shingles("text", k)).alias("g"),
            ).collect()
        }
        assert fast == ref, f"k={k}: {len(fast)} vs {len(ref)} grams"


def test_cross_lsh_matches_self_join_restriction(spark):
    """For disjoint id sets A, B: cross(A, B) must equal exactly the A×B
    pairs of the self-join over A ∪ B (same banding parameters)."""
    from dbt_analytics_spark.operators.dedup import (
        dedup_against_corpus,
        minhash_lsh_pairs,
        minhash_lsh_pairs_cross,
    )
    from dbt_analytics_spark.sources import load_testdata

    from .conftest import SF_DIR

    docs = load_testdata(spark, SF_DIR)["documents"].select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 2 == 0)
    corpus = docs.filter(F.col("doc_id") % 2 == 1)

    both = minhash_lsh_pairs(docs, "doc_id", threshold=0.4)
    want = {
        (r["doc1"], r["doc2"], round(r["jaccard"], 12))
        for r in both.collect()
        if r["doc1"] % 2 != r["doc2"] % 2
    }
    # Self-join orients pairs doc1 < doc2; cross orients new→corpus.
    want = {
        (a, b, j) if a % 2 == 0 else (b, a, j) for a, b, j in want
    }
    got = {
        (r["new_doc"], r["corpus_doc"], round(r["jaccard"], 12))
        for r in minhash_lsh_pairs_cross(
            new, corpus, "doc_id", threshold=0.4
        ).collect()
    }
    assert got == want

    kept = dedup_against_corpus(new, corpus, "doc_id", threshold=0.4)
    matched_new = {a for a, _, _ in want}
    assert {r["doc_id"] for r in kept.collect()} == {
        r["doc_id"] for r in new.collect()
    } - matched_new


def test_cross_lsh_salted_same_pairs(spark):
    from dbt_analytics_spark.operators.dedup import minhash_lsh_pairs_cross
    from dbt_analytics_spark.sources import load_testdata

    from .conftest import SF_DIR

    docs = load_testdata(spark, SF_DIR)["documents"].select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 2 == 0)
    corpus = docs.filter(F.col("doc_id") % 2 == 1)
    plain = {
        (r["new_doc"], r["corpus_doc"])
        for r in minhash_lsh_pairs_cross(new, corpus, "doc_id", threshold=0.4).collect()
    }
    salted = {
        (r["new_doc"], r["corpus_doc"])
        for r in minhash_lsh_pairs_cross(
            new, corpus, "doc_id", threshold=0.4, n_salts=8
        ).collect()
    }
    assert plain == salted


def test_exact_substring_pairs_hand_case(spark):
    from dbt_analytics_spark.operators.dedup import exact_substring_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i"),       # shares the 8-window a..h with doc 2
            (2, "a b c d e f g h x"),
            (3, "p q r s t u v w y"),       # no shared window
            (4, "short doc"),                # < k tokens → whole-doc gram
            (5, "short doc"),                # identical short doc → pair (4,5)
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared_windows
        for r in exact_substring_pairs(docs, k=8, max_gram_docs=8).collect()
    }
    assert pairs == {(1, 2): 1, (4, 5): 1}


def test_exact_substring_boilerplate_cap(spark):
    from dbt_analytics_spark.operators.dedup import exact_substring_pairs

    # The same window in 5 docs is dropped when max_gram_docs=4 — no pairs.
    docs = spark.createDataFrame(
        [(i, "w1 w2 w3 w4 w5 w6 w7 w8") for i in range(5)],
        "doc_id long, text string",
    )
    assert exact_substring_pairs(docs, k=8, max_gram_docs=4).count() == 0
    # With the cap at 5 the window is eligible: C(5,2) = 10 pairs.
    assert exact_substring_pairs(docs, k=8, max_gram_docs=5).count() == 10


def test_exact_substring_validates_args(spark):
    import pytest

    from dbt_analytics_spark.operators.dedup import exact_substring_pairs

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="k must be"):
        exact_substring_pairs(docs, k=1)
    with pytest.raises(ValueError, match="max_gram_docs"):
        exact_substring_pairs(docs, max_gram_docs=1)


# ---------------------------------------------------------------------------
# gram_rows long-document segmentation: row-identical for any S >= k
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=1, max_size=40).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    k=st.integers(min_value=2, max_value=5),
    seg=st.integers(min_value=0, max_value=9),
)
def test_gram_rows_segmented_row_identical(spark, docs, k, seg):
    from dbt_analytics_spark.operators.dedup import gram_rows

    S = k + seg  # any segment width >= k
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    base = sorted(
        (r.doc, r.g) for r in gram_rows(df, "doc_id", "text", k, distinct=False).collect()
    )
    got = sorted(
        (r.doc, r.g)
        for r in gram_rows(
            df, "doc_id", "text", k, distinct=False, segment_tokens=S
        ).collect()
    )
    assert got == base


def test_gram_rows_segment_validates(spark):
    import pytest

    from dbt_analytics_spark.operators.dedup import gram_rows

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="segment_tokens"):
        gram_rows(df, "doc_id", "text", 3, segment_tokens=2).collect()


def test_agg_signature_mode_identical_pairs(spark):
    """sig_mode='agg' (posexplode + codegen min-aggs, the at-scale path)
    must produce signatures bit-identical to the fold — same xxhash64 per
    slot, min is order-free — hence the IDENTICAL pair set and jaccards."""
    df = spark.createDataFrame(_corpus(), ["doc_id", "text"])
    fold = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in minhash_lsh_pairs(df, "doc_id", "text", threshold=0.3).collect()
    }
    agg = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", threshold=0.3, sig_mode="agg"
        ).collect()
    }
    assert set(agg) == set(fold) and len(fold) > 0
    for pair, j in agg.items():
        assert abs(j - fold[pair]) < 1e-12


def test_simhash_pairs_exact_equals_bruteforce(spark):
    """simhash_pairs_exact (round 9): pigeonhole banding into
    max_hamming+1 chunks makes recall PROVABLY 1.0 — the output must
    EQUAL the all-pairs xor/bit_count answer over the same portable
    signatures, with zero misses (not just the d<=3 guarantee of the
    4x16-bit production banding)."""
    from dbt_analytics_spark.operators.dedup import (
        portable_token_hash,
        simhash_pairs_exact,
    )

    docs = _corpus()
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    sigs = {
        r["doc"]: r["sig"]
        for r in df.select(
            F.col("doc_id").alias("doc"),
            simhash_votes("text", bits=60, hash_fn=portable_token_hash).alias("__v"),
        )
        .select("doc", simhash_from_votes(F.col("__v"), bits=60).alias("sig"))
        .collect()
    }
    ids = sorted(sigs)
    expect = {}
    for a_pos, a in enumerate(ids):
        for b in ids[a_pos + 1 :]:
            d = int(sigs[a] ^ sigs[b]).bit_count()
            if d <= 8:
                expect[(a, b)] = d
    assert len(expect) >= 15

    got = {
        (r["doc1"], r["doc2"]): r["hamming"]
        for r in simhash_pairs_exact(
            df, "doc_id", "text", max_hamming=8, bits=60
        ).collect()
    }
    assert got == expect  # set AND distances identical — exact, both ways


def test_simhash_pairs_exact_validates_args(spark):
    import pytest

    from dbt_analytics_spark.operators.dedup import simhash_pairs_exact

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_pairs_exact(df, "doc_id", "text", max_hamming=60, bits=60)


def test_span_dedup_paragraph_mode(spark):
    """span_dedup (operators/dedup.py): blank-line paragraph unit —
    corpus-wide first-occurrence keep, in-order rebuild, all-cut and
    blank-paragraph edges."""
    from dbt_analytics_spark.operators.dedup import span_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta\n\nshared para\n\ngamma"),
            (2, "shared para\n\ndelta"),      # loses its copy of the dup
            (3, "shared para"),               # everything cut -> ''
            (4, "  \n\nepsilon\n\n\n\nzeta"), # blank paragraphs dropped
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_spans"], r["n_kept"], r["clean_text"])
        for r in span_dedup(
            docs, "doc_id", "text", join_sep="\n\n"
        ).collect()
    }
    assert out[1] == (3, 3, "alpha beta\n\nshared para\n\ngamma")
    assert out[2] == (2, 1, "delta")
    assert out[3] == (1, 0, "")
    assert out[4] == (2, 2, "epsilon\n\nzeta")


def test_leakage_split_keeps_near_dup_pairs_in_one_split(spark):
    # smp7's contract: if two docs are near-dups (a dd7 pair), they MUST
    # land in the same train/val/test split — and the assignment must be
    # deterministic across runs.
    from dbt_analytics_spark.operators.dedup import jaccard_pairs
    from dbt_analytics_spark.queries.llm import smp7_leakage_split

    sf = "/root/testdata/sf0.001"
    out = smp7_leakage_split(spark, sf)
    rows = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in out.collect()}
    again = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for r in smp7_leakage_split(spark, sf).collect()
    }
    assert rows == again  # deterministic

    from dbt_analytics_spark.sources import load_testdata

    docs = load_testdata(spark, sf)["documents"].filter(
        F.col("doc_id") % 4 == 0
    )
    pairs = jaccard_pairs(
        docs, "doc_id", "text", block_col="lang", threshold=0.8
    ).collect()
    assert pairs, "fixture should contain near-dup pairs"
    for p in pairs:
        assert rows[p["doc1"]][1] == rows[p["doc2"]][1], (
            p["doc1"], p["doc2"], rows[p["doc1"]], rows[p["doc2"]],
        )
    # All three splits are populated at this corpus width.
    assert {s for _, s in rows.values()} == {"train", "val", "test"}


def test_span_dedup_token_mode_null_and_empty_text(spark):
    """Token mode over NULL text: size(tokens) = -1 makes the window
    count 0, and an unguarded sequence(0, -1) yields the DESCENDING
    [0, -1] — two phantom empty spans that would enter global dedup
    (the SQL oracle's range(0, 0) yields none). NULL docs contribute
    zero spans; '' docs contribute exactly ONE empty span (both engines
    split '' to [''] — size 1), not two phantoms."""
    from dbt_analytics_spark.operators.dedup import span_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, None),
            (3, ""),
            (4, "alpha beta gamma delta epsilon"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_spans"], r["n_kept"], r["clean_text"])
        for r in span_dedup(
            docs, "doc_id", "text", span_tokens=2, join_sep=" "
        ).collect()
    }
    assert out[1] == (2, 2, "alpha beta gamma delta")
    assert out[2] == (0, 0, "")
    assert out[3] == (1, 1, "")
    assert out[4] == (3, 1, "epsilon")


def test_lsh_pairs_emitted_exactly_once_without_dedup_agg(spark):
    """Round-16 exactly-once emission: a pair agreeing in EVERY band
    (identical texts -> identical signatures) used to be emitted
    ``bands`` times and distinct-aggregated away; the first-agreeing-
    band filter must now emit it exactly once — duplicate output rows
    would be a silent regression the set-wise brute-force tests cannot
    see (they dict/set the results)."""
    docs = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta copy{i % 5}")
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).collect()
    keys = [(r["doc1"], r["doc2"]) for r in out]
    assert len(keys) == len(set(keys)), "pair emitted more than once"
    # every pair qualifies (same-group J=1.0 agrees in ALL 8 bands — the
    # maximal-duplication case; cross-group differs in 1 of 7 shingles,
    # J=0.75): C(30,2) rows, of which the 5 clone groups give C(6,2)*5
    # exact J=1.0 rows
    assert len(keys) == 435
    assert sum(abs(r["jaccard"] - 1.0) < 1e-12 for r in out) == 5 * 15


def test_lsh_cross_pairs_emitted_exactly_once(spark):
    from dbt_analytics_spark.operators.dedup import minhash_lsh_pairs_cross

    docs = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta copy{i % 3}")
        for i in range(18)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    new = df.filter(F.col("doc_id") % 2 == 0)
    corpus = df.filter(F.col("doc_id") % 2 == 1)
    out = minhash_lsh_pairs_cross(new, corpus, "doc_id", threshold=0.5).collect()
    keys = [(r["new_doc"], r["corpus_doc"]) for r in out]
    assert len(keys) == len(set(keys)), "cross pair emitted more than once"
    # all 9x9 new-x-corpus pairs qualify (see the self-join test); the
    # 3 clone groups give 3x3 exact J=1.0 rows each
    assert len(keys) == 81
    assert sum(abs(r["jaccard"] - 1.0) < 1e-12 for r in out) == 27


def test_persist_tracked_dedupes_repeated_calls(spark):
    """bench.py's protocol (warmup + min-of-N repeats, NO release between)
    must keep hitting ONE shared cache entry per relation: semantically
    equal frames re-tracked per call would fill the LRU with references
    to the same InMemoryRelation, and evicting any of them unpersists
    the entry every later repeat still needs (observed: dd3 sf0.1 bench
    row 0.97 s -> 7 s from repeat 2 on). Five identical calls must leave
    exactly the first call's entries tracked."""
    from dbt_analytics_spark.operators.dedup import (
        _PERSISTED_INDEXES,
        minhash_lsh_pairs,
        release_shingle_indexes,
    )

    release_shingle_indexes()
    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon copy{i % 3}") for i in range(12)],
        ["doc_id", "text"],
    )
    minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).count()
    tracked_after_first = list(_PERSISTED_INDEXES)
    assert len(tracked_after_first) == 2  # shingled + banded
    for _ in range(4):
        minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).count()
    assert _PERSISTED_INDEXES == tracked_after_first, (
        "repeated identical calls must dedupe to the first call's entries"
    )
    assert all(d.storageLevel.useMemory for d in _PERSISTED_INDEXES), (
        "shared entries must still be cached after repeats"
    )
    release_shingle_indexes()


def test_lsh_index_cache_drops_entries_a_drop_table_uncached(spark):
    """A DROP TABLE uncaches every persisted frame that scans the table.
    The LSH index cache must not hand such a frame back to a later call
    with the same plan: it would re-read the dropped table's files
    (FAILED_READ_FILE.FILE_NOT_EXIST) instead of the re-created table."""
    from dbt_analytics_spark.operators.dedup import (
        _PERSISTED_INDEXES,
        minhash_lsh_pairs,
        release_shingle_indexes,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"

    def recreate(rows):
        spark.sql("DROP TABLE IF EXISTS lsh_recreated")
        spark.createDataFrame(rows, ["doc_id", "text"]).write.saveAsTable(
            "lsh_recreated"
        )

    def pairs():
        out = minhash_lsh_pairs(spark.table("lsh_recreated"), "doc_id", "text")
        return sorted((r["doc1"], r["doc2"]) for r in out.collect())

    release_shingle_indexes()
    try:
        recreate([(1, base), (2, base + " lambda"), (3, other)])
        assert pairs() == [(1, 2)]
        recreate([(7, other), (8, other + " eleven"), (9, base)])
        assert pairs() == [(7, 8)]
        tracked = list(_PERSISTED_INDEXES)
        assert len(tracked) == 2  # the dropped table's entries are gone
        assert pairs() == [(7, 8)]
        assert _PERSISTED_INDEXES == tracked  # same data: reused
    finally:
        release_shingle_indexes()
        spark.sql("DROP TABLE IF EXISTS lsh_recreated")


def test_lsh_shuffle_and_broadcast_shapes_agree(spark):
    """The 16 MB source-bytes gate switches the candidate/verify joins
    between broadcast-friendly (small corpora — the driver's bench SFs)
    and SHUFFLE_HASH (cluster-true) shapes. In-memory test frames have
    no disk size, so the gated paths must be forced and proven
    result-identical — the sf10 identity probe covers the real data,
    this pins it in CI."""
    from dbt_analytics_spark.operators.dedup import (
        _input_disk_bytes,
        _lsh_candidates_once,
        _shingle_and_band,
        _verify_pairs,
        release_shingle_indexes,
    )

    docs = spark.createDataFrame(
        [
            (i, f"alpha beta gamma delta epsilon zeta copy{i % 4} tail{i % 7}")
            for i in range(40)
        ],
        ["doc_id", "text"],
    )
    sh, banded = _shingle_and_band(docs, "doc_id", "text", 3, 32, 8, with_vec=True)
    assert _input_disk_bytes(docs) is None  # in-memory: gate defaults off
    out = {}
    for shuffle in (False, True):
        cand = _lsh_candidates_once(banded, 8, shuffle=shuffle)
        # src_bytes above the gate -> shuffle-hash j1; below -> plain.
        src = (32 << 20) if shuffle else 0
        pairs = _verify_pairs(cand, sh, ("doc1", "doc2"), 0.5, src)
        out[shuffle] = sorted(
            (r["doc1"], r["doc2"], round(r["jaccard"], 12)) for r in pairs.collect()
        )
    release_shingle_indexes()
    assert out[False] == out[True]
    assert len(out[False]) > 0


def test_jaccard_threshold_cond_matches_double_form(spark):
    """The exact-integer threshold rewrite must agree with the original
    double-division filter on every (n_inter, s12) pair in a dense grid,
    for every declared threshold plus awkward rationals."""
    from dbt_analytics_spark.operators.dedup import _jaccard_threshold_cond

    rows = [
        (n, s12) for s12 in range(2, 121) for n in range(0, s12 // 2 + 1)
    ]
    df = spark.createDataFrame(rows, ["n", "s12"])
    for t in (0.5, 0.4, 1.0, 0.3, 0.25, 1 / 3, 0.85, 0.0):
        nd = F.col("n").cast("double")
        legacy = (nd / (F.col("s12").cast("double") - nd)) >= t
        got = df.select(
            _jaccard_threshold_cond(F.col("n"), F.col("s12"), t).alias("a"),
            legacy.alias("b"),
        ).collect()
        assert all(r["a"] == r["b"] for r in got), f"mismatch at t={t}"
