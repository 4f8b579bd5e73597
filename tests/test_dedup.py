"""Dedup operators against hand-computable fixtures + the sf0.001 documents."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from europarl_crawler_spark.operators import dedup

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (3, "the quick brown fox jumped over the lazy dog"),  # near dup
            (4, "completely different text about something else entirely"),
            (5, "short"),
        ],
        "doc_id long, text string",
    )


def test_exact_duplicates(docs):
    got = dedup.exact_duplicates(docs).collect()
    assert len(got) == 1
    assert got[0].keep_id == 1 and got[0].n_dups == 2


def test_shingles_cardinality(docs, spark):
    sh = dedup.shingles(docs.filter("doc_id = 5"), n=5)
    # "short" has exactly one 5-gram
    assert [r.shingle for r in sh.collect()] == ["short"]


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, n=5, threshold=0.3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical text
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
    assert all(a < b for a, b in pairs)
    assert (1, 4) not in pairs


def test_minhash_lsh_finds_exact_and_near(docs):
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, k=32, bands=16, threshold=0.3).collect()
    }
    assert (1, 2) in got  # identical docs always collide
    # precision: every reported pair is a true >= threshold pair
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, n=5, threshold=0.3).collect()
    }
    assert got <= exact


def test_simhash_identical_docs_equal(docs):
    sig = {r.doc_id: r.simhash for r in dedup.simhash64(docs).collect()}
    assert sig[1] == sig[2]


def test_simhash_near_pairs(docs):
    got = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_near_pairs(docs, 6).collect()}
    assert got.get((1, 2)) == 0
    assert (1, 4) not in got or got[(1, 4)] > 0  # different docs aren't 0-distance


def test_on_real_documents_table(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    dups = dedup.exact_duplicates(docs).count()
    assert dups >= 0  # smoke: runs on the driver-provided corpus
    sig = dedup.simhash64(docs.limit(50))
    assert sig.count() == 50


def test_keep_one_per_group(docs):
    tagged = docs.withColumn("g", F.xxhash64("text"))
    kept = dedup.keep_one_per_group(tagged, "g")
    assert kept.count() == 4  # 5 docs, one exact-dup pair collapsed
    assert kept.filter("doc_id = 2").count() == 0


def test_near_dup_groups_connected_components(spark):
    """Min-label propagation: a chain, a triangle joined to it, a separate
    pair — each doc labeled with the smallest reachable id."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (7, 1), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    got = {r.doc_id: r.group_id for r in dedup.near_dup_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_near_dup_groups_long_chain_converges(spark):
    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.group_id for r in dedup.near_dup_groups(pairs).collect()}
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_near_dup_groups_pathological_chain_logarithmic(spark):
    """Pointer jumping: a 120-vertex path (diameter 119) must converge well
    inside the default 25-round cap — O(log d) rounds, not O(d)."""
    n = 120
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.group_id for r in dedup.near_dup_groups(pairs).collect()}
    assert set(got.values()) == {0}
    assert len(got) == n


def test_near_dup_groups_nonconvergence_raises(spark):
    """ADVICE r2: partial labels must never be returned silently — a cap too
    low for the graph's diameter raises instead of disagreeing with the
    recursive-CTE oracle."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="no convergence"):
        dedup.near_dup_groups(pairs, max_iter=2)


def test_ngram_decontaminate_finds_verbatim_leaks(spark):
    from europarl_crawler_spark.operators import dedup as dd

    leak = "the exact thirteen character run that leaked into training data"
    train = spark.createDataFrame(
        [
            (1, "clean original prose with nothing copied anywhere at all"),
            (2, "prefix text ... " + leak + " ... suffix text"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "benchmark question: " + leak)],
        "doc_id long, text string",
    )
    got = {(r.train_id, r.eval_id): r.n_shared
           for r in dd.ngram_decontaminate(train, ev, n=13).collect()}
    assert (2, 100) in got and got[(2, 100)] >= len(leak) - 12
    assert not any(t == 1 for t, _ in got)


def test_ngram_decontaminate_clean_corpus_is_empty(spark):
    from europarl_crawler_spark.operators import dedup as dd

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    assert dd.ngram_decontaminate(train, ev, n=13).count() == 0


# ---- paragraph-level dedup (Dolma / RefinedWeb recipe) ----------------------


@pytest.fixture(scope="module")
def para_docs(spark):
    # newline-structured docs: the shared paragraph "cookie banner text"
    # must survive only in doc 1 (its first (doc, pos) occurrence).
    return spark.createDataFrame(
        [
            (1, "cookie banner text\nunique one"),
            (2, "unique two\ncookie banner text"),
            (3, "cookie banner text"),
            (4, ""),  # no paragraphs at all
            (5, "repeat me\nrepeat me\nunique five"),  # intra-doc repeat
        ],
        "doc_id long, text string",
    )


def test_paragraph_dedup_first_owner(para_docs):
    got = {r.doc_id: r for r in dedup.paragraph_dedup(para_docs).collect()}
    assert got[1].cleaned == "cookie banner text\nunique one"
    assert got[1].n_paras == 2 and got[1].n_kept == 2
    # doc 2 loses the banner (first owner is doc 1) but keeps order
    assert got[2].cleaned == "unique two"
    assert got[2].n_paras == 2 and got[2].n_kept == 1
    # doc 3 is nothing but the banner -> fully emptied
    assert got[3].cleaned == "" and got[3].n_kept == 0
    assert got[3].removed_frac == 1.0
    # empty doc: present in the output with zero counts
    assert got[4].n_paras == 0 and got[4].cleaned == ""
    assert got[4].removed_frac == 0.0
    # intra-document repeats dedup too (pos 0 wins over pos 1)
    assert got[5].cleaned == "repeat me\nunique five"
    assert got[5].n_paras == 3 and got[5].n_kept == 2


def test_paragraph_dedup_char_mass(para_docs):
    got = {r.doc_id: r for r in dedup.paragraph_dedup(para_docs).collect()}
    r2 = got[2]
    assert r2.n_chars == len("unique two") + len("cookie banner text")
    assert r2.n_kept_chars == len("unique two")
    assert r2.removed_frac == round(1 - r2.n_kept_chars / r2.n_chars, 6)


def test_paragraph_dedup_token_window_fallback(spark):
    # no newlines -> fixed token-window chunks; window=3 for hand-checking.
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),  # chunks: "a b c", "d e"
            (2, "a b c x y"),  # chunk "a b c" duplicates doc 1 pos 0
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedup.paragraph_dedup(docs, window=3).collect()}
    assert got[1].cleaned == "a b c\nd e"
    assert got[2].cleaned == "x y"
    assert got[2].n_paras == 2 and got[2].n_kept == 1


def test_paragraph_dedup_idempotent(para_docs):
    """Running the pass over its own cleaned output removes nothing more."""
    first = dedup.paragraph_dedup(para_docs).select(
        "doc_id", F.col("cleaned").alias("text")
    )
    second = dedup.paragraph_dedup(first)
    assert second.filter(F.col("removed_frac") > 0).count() == 0


# ---- cross-epoch incremental dedup ------------------------------------------


def test_incremental_dedup_across_epochs(spark, tmp_path):
    from europarl_crawler_spark.sources.epochstore import EpochStore

    store = EpochStore(tmp_path / "store")
    e1 = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta")], "doc_id long, text string"
    )
    s1 = {r.doc_id for r in dedup.incremental_dedup(store, spark, e1, 1).collect()}
    assert s1 == {1, 3}  # keep-first within the batch
    # epoch 2: one replayed text, one new — only the new one survives
    e2 = spark.createDataFrame(
        [(9, "alpha"), (10, "gamma")], "doc_id long, text string"
    )
    s2 = {r.doc_id for r in dedup.incremental_dedup(store, spark, e2, 2).collect()}
    assert s2 == {10}
    # epoch 3: replaying everything yields nothing — history is cumulative
    s3 = dedup.incremental_dedup(store, spark, e1.unionByName(e2), 3).count()
    assert s3 == 0
    # the history table holds exactly the distinct content hashes
    assert store.read("content_hashes", spark).select("h").distinct().count() == 3


# --- exact_substring_dedup (Lee et al. 2022 ExactSubstr) -------------------


@pytest.fixture(scope="module")
def span_docs(spark):
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    rows = [
        (1, f"intro one {shared} outro one"),
        (2, f"different opening here {shared} and a different close"),
        (3, "seven shared tokens alpha bravo charlie delta echo foxtrot golf"),
        (4, "nothing in common with anybody else at all whatsoever today"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_dedup_removes_every_occurrence(span_docs):
    got = {r.doc_id: r for r in dedup.exact_substring_dedup(span_docs).collect()}
    # the shared 8-token span is gone from BOTH carriers (no kept original)
    for d in (1, 2):
        assert "alpha" not in got[d].cleaned and "hotel" not in got[d].cleaned
        assert got[d].n_removed == 8
    # the unique framing around the span survives, in order
    assert got[1].cleaned == "intro one outro one"
    assert "different opening here" in got[2].cleaned


def test_substring_dedup_k_minus_one_run_survives(span_docs):
    got = {r.doc_id: r for r in dedup.exact_substring_dedup(span_docs).collect()}
    # doc 3 shares only a 7-token run with docs 1/2: below k=8, untouched
    assert got[3].n_removed == 0
    assert got[4].n_removed == 0
    # token-less doc stays in-band
    assert got[5].n_tokens == 0 and got[5].cleaned == ""


def test_substring_dedup_identical_docs_fully_removed(spark):
    txt = "one two three four five six seven eight nine ten eleven twelve"
    d = spark.createDataFrame([(1, txt), (2, txt)], "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.exact_substring_dedup(d).collect()}
    assert got[1].cleaned == "" and got[2].cleaned == ""
    assert got[1].removed_frac == 1.0


def test_substring_dedup_duckdb_mirror(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.removed_frac, r.cleaned)
        for r in dedup.exact_substring_dedup(docs).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(dedup.exact_substring_dedup_sql()).fetchall()
    }
    assert got == want


def test_crossmodal_groups_transitive_across_modalities(spark):
    # A≈B by image, B≈C by text → one group; D-E only in one modality;
    # the duplicated (B,C) edge found by both modalities counts once
    img = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    txt = spark.createDataFrame([(2, 3), (7, 8)], "id_a long, id_b long")
    got = {
        (r.doc_id, r.group_id)
        for r in dedup.crossmodal_groups(img, txt).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}


def test_incremental_minhash_matches_full_corpus_banding(spark, tmp_path):
    """incremental_minhash_dedup: epoch increments' pair sets union to the
    FULL-corpus banding (per-doc signatures, no df-cap => increment
    banding is exact), with every e2 pair touching an e2 doc and
    cross-epoch pairs found WITHOUT re-shingling epoch-1 text."""
    from europarl_crawler_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_lsh_pairs,
    )
    from europarl_crawler_spark.sources.epochstore import EpochStore

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark woods tonight"
    )
    rows = []
    for i in range(40):
        # pairs of near-identical docs (2k, 2k+1 share a long prefix)
        txt = base + f" variant {i // 2} " + ("x" if i % 2 else "y") * 3
        rows.append((i, txt))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = EpochStore(tmp_path / "store")
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    odds = docs.filter(F.col("doc_id") % 2 == 1)
    e1 = incremental_minhash_dedup(store, spark, evens, 1, threshold=0.4)
    e2 = incremental_minhash_dedup(store, spark, odds, 2, threshold=0.4)
    p1 = {(r.id_a, r.id_b, r.jaccard) for r in e1.collect()}
    p2 = {(r.id_a, r.id_b, r.jaccard) for r in e2.collect()}
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(
            docs, threshold=0.4, df_cap=None, portable=True
        ).collect()
    }
    assert p1 | p2 == full and p1.isdisjoint(p2)
    # every (2k, 2k+1) near-identical pair is cross-epoch and must be in e2
    assert any(a % 2 == 0 and b % 2 == 1 for a, b, _ in p2)
    assert all(a % 2 == 1 or b % 2 == 1 for a, b, _ in p2)
    # history state persisted: bucket and shingle tables carry both epochs
    bk = store.read("mh_buckets", spark)
    assert bk.select("doc_id").distinct().count() == 40


def test_incremental_minhash_resent_doc_keeps_jaccard(spark, tmp_path):
    """A doc_id re-sent in a later increment is that doc's current truth:
    its shingles come from the increment alone, not history ∪ increment,
    so its Jaccard with a near-duplicate is the same as when first seen."""
    from europarl_crawler_spark.operators.dedup import incremental_minhash_dedup
    from europarl_crawler_spark.sources.epochstore import EpochStore

    text = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark woods tonight"
    )
    docs = spark.createDataFrame(
        [(1, text + " alpha"), (2, text + " omega")], "doc_id long, text string"
    )
    store = EpochStore(tmp_path / "store")
    first = incremental_minhash_dedup(store, spark, docs, 1, threshold=0.4)
    p1 = {(r.id_a, r.id_b): r.jaccard for r in first.collect()}
    assert set(p1) == {(1, 2)}
    resent = incremental_minhash_dedup(
        store, spark, docs.filter(F.col("doc_id") == 2), 2, threshold=0.4
    )
    p2 = {(r.id_a, r.id_b): r.jaccard for r in resent.collect()}
    assert p2 == p1
