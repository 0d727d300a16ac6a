"""Unit pins for dedup primitives (shapes that broke during optimization)."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from sdc_spark.operators.dedup import (
    exact_dedup,
    jaccard,
    ngrams_of_tokens,
    normalized_text,
    word_ngrams,
)


def test_ngrams_shapes(spark):
    df = spark.createDataFrame(
        [("the quick brown fox jumps",), ("a b",), ("one",), ("x x x x",)], "text string"
    )
    got = [
        r.g
        for r in df.select(
            ngrams_of_tokens(F.split(F.col("text"), " ")).alias("g")
        ).collect()
    ]
    assert got[0] == ["the quick brown", "quick brown fox", "brown fox jumps"]
    assert got[1] == ["a b"]
    assert got[2] == ["one"]
    assert got[3] == ["x x x"]  # distinct collapses repeats


def test_word_ngrams_normalizes(spark):
    df = spark.createDataFrame([("  The   QUICK\tbrown fox ",)], "text string")
    got = df.select(word_ngrams("text").alias("g")).collect()[0].g
    assert got == ["the quick brown", "quick brown fox"]


def test_jaccard_exact(spark):
    df = spark.createDataFrame([(["a", "b", "c"], ["b", "c", "d"])], "x array<string>, y array<string>")
    got = df.select(jaccard(F.col("x"), F.col("y")).alias("j")).collect()[0].j
    assert got == 2 / 4


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(5, "Hello  World"), (2, "hello world"), (9, "other")], "doc_id long, text string"
    )
    rows = {r.keep_id: r.n_copies for r in exact_dedup(df, "text", "doc_id").collect()}
    assert rows == {2: 2, 9: 1}


def test_normalized_text(spark):
    df = spark.createDataFrame([("  A\t\tB  c ",)], "t string")
    assert df.select(normalized_text("t").alias("n")).collect()[0].n == "a b c"


def test_components_star_matches_ground_truth(spark):
    """dedup_components (large-star/small-star) pinned against a
    union-find ground truth on adversarial shapes: a 100-node chain
    (diameter 99 — the re-hanging has to halve it), a clique, singleton
    self-pairs, a hub (one center with 600 leaves, component min a leaf —
    the single-giant-component shape) and a seeded random graph — one
    edge list, so cross-component interference is exercised too. Then a
    string-id graph (component = lexicographic min) and an empty pair
    frame. Also pins that an under-iterated run FAILS LOUDLY instead of
    silently returning mislabeled far nodes."""
    import random

    import pytest

    from sdc_spark.operators.dedup import dedup_components

    def ground_truth(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {(n, find(n)) for n in parent}

    def components(edges, schema):
        df = spark.createDataFrame(edges, schema)
        return {(r.doc, r.component) for r in dedup_components(df).collect()}

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(100, 200)]          # chain, comp min 100
    edges += [(a, b) for a in range(300, 306) for b in range(a + 1, 306)]  # clique
    edges += [(500, 500), (501, 501)]                      # isolated self-pairs
    edges += [(2300, leaf) for leaf in range(2000, 2601) if leaf != 2300]  # hub
    nodes = list(range(1000, 1080))
    edges += [tuple(rng.sample(nodes, 2)) for _ in range(60)]  # random graph
    rng.shuffle(edges)
    assert components(edges, "doc_a long, doc_b long") == ground_truth(edges)

    str_edges = [("pear", "fig"), ("fig", "apple"), ("kiwi", "date"),
                 ("lime", "lime"), ("plum", "kiwi")]
    got = components(str_edges, "doc_a string, doc_b string")
    assert got == ground_truth(str_edges)
    assert dict(got)["pear"] == "apple" and dict(got)["plum"] == "date"

    assert components([], "doc_a long, doc_b long") == set()

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not reach a fixpoint"):
        dedup_components(df, max_iter=3).collect()


def test_lsh_params_for_threshold_properties():
    """The banding tuner must return the registry default at t=0.8 / 128
    hashes, keep miss under the bound, prefer steeper curves (more rows)
    when the bound allows, and go shallower as the threshold drops."""
    from sdc_spark.operators.dedup import (
        lsh_candidate_probability,
        lsh_params_for_threshold,
    )

    assert lsh_params_for_threshold(0.8, 128) == (32, 4)

    for t in (0.3, 0.5, 0.7, 0.8, 0.9):
        bands, rows = lsh_params_for_threshold(t, 128)
        assert bands * rows == 128
        miss = (1.0 - t**rows) ** bands
        assert miss <= 1e-4, (t, bands, rows, miss)
        # the S-curve at the threshold is the complement of the miss
        assert abs(
            lsh_candidate_probability(t, bands, rows) - (1.0 - miss)
        ) < 1e-12

    # lower threshold -> fewer rows per band (shallower split)
    _, r_low = lsh_params_for_threshold(0.5, 128)
    _, r_high = lsh_params_for_threshold(0.9, 128)
    assert r_low < r_high

    import pytest

    with pytest.raises(ValueError):
        lsh_params_for_threshold(0.01, 8)
    with pytest.raises(ValueError):
        lsh_params_for_threshold(1.5, 128)


def test_minhash_hot_bucket_cap(spark):
    """max_bucket_size drops only the giant-cluster buckets: pairs inside
    a 12-clone cluster disappear under cap=8 (every band puts all 12 in
    one bucket), while an independent small near-dup pair survives."""
    from sdc_spark.operators.dedup import minhash_lsh_pairs

    clones = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(12)]
    pair = [
        (100, "one two three four five six seven eight nine"),
        (101, "one two three four five six seven eight ten"),
    ]
    df = spark.createDataFrame(clones + pair, ["doc_id", "text"])

    uncapped = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(df, "text", "doc_id", threshold=0.5).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            df, "text", "doc_id", threshold=0.5, max_bucket_size=8
        ).collect()
    }
    assert (100, 101) in uncapped and (0, 1) in uncapped
    assert (100, 101) in capped
    assert not [p for p in capped if p[0] < 100], capped


def test_containment_catches_superset_jaccard_misses(spark):
    """A short doc embedded verbatim in a much longer one: containment of
    the short side is 1.0 while Jaccard is diluted below any usable
    threshold — the pair class ngram_containment_pairs exists for."""
    from sdc_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"tok{i} filler{i} pad{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally unrelated words only here")],
        "doc_id long, text string",
    )
    cont = ngram_containment_pairs(df, "text", "doc_id", threshold=0.8).collect()
    assert len(cont) == 1
    r = cont[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["cont_a"] == 1.0  # every short-doc gram is in the long doc
    assert r["containment"] == 1.0 and r["cont_b"] < 0.2
    # Jaccard at the same 0.8 bar reports nothing: the superset dilutes it
    assert (
        ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.8).count() == 0
    )


def test_containment_doc_freq_cap_prunes_boilerplate(spark):
    """With every doc sharing one boilerplate gram, max_doc_freq=2 must
    drop that gram from candidate generation (no pair emitted on the
    boilerplate alone), while true supersets still surface."""
    from sdc_spark.operators.dedup import ngram_containment_pairs

    boiler = "copyright footer notice"
    df = spark.createDataFrame(
        [(i, f"unique{i} word{i} thing{i} " + boiler) for i in range(5)],
        "doc_id long, text string",
    )
    got = ngram_containment_pairs(
        df, "text", "doc_id", threshold=0.9, max_doc_freq=2
    ).collect()
    assert got == []


def test_keep_best_in_cluster(spark):
    """Survivor = argmax score per component (ties -> min id); singletons
    always survive; transitive clusters collapse to one survivor."""
    from sdc_spark.operators.dedup import keep_best_in_cluster

    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.7)],
        "doc_id long, q double",
    )
    # 1-2 and 2-3 chain into one cluster {1,2,3}; 4 pairs with nothing; 5 singleton
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    got = {
        r["doc"]: (r["rep"], r["keep"])
        for r in keep_best_in_cluster(docs, pairs, "doc_id", "q").collect()
    }
    assert got[2] == (1, True)   # 0.9 tie between 2 and 3 -> min id 2
    assert got[3] == (1, False)
    assert got[1] == (1, False)  # component label = min member id
    assert got[4] == (4, True)
    assert got[5] == (5, True)
