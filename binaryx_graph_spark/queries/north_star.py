"""North-star pipeline queries (beyond the reference surface; BASELINE.json):
dedup, similarity search, text analysis over documents/embeddings —
each oracle-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import load_table
from ..operators.dedup import sql_band_candidate_estimate as _sql_band_est
from ..operators.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    minhash_near_dup,
    simhash,
    sql_containment_pairs,
    sql_jaccard_pairs,
    sql_minhash_near_dup,
    sql_simhash,
)
from ..operators.similarity import (
    cosine_topk,
    cosine_topk_lsh,
    embedding_near_dup,
    sql_cosine,
    sql_embedding_near_dup,
    sql_ivf_kmeans,
    sql_sign_bucket,
)
from ..operators.textstats import (
    fingerprint,
    language_id,
    quality_metrics,
    sql_fingerprint,
    sql_language_id,
    sql_quality_metrics,
    tokens,
)
from ..registry import register

# ------------------------------------------------------------------ dedup


@register(
    "dedup_exact",
    oracle="""
    SELECT content_hash, n_docs, canonical_id
    FROM (
      SELECT sha256(list_aggregate(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                               t -> t <> '')[1:5], 'string_agg', ' ')) AS content_hash,
             count(*) AS n_docs,
             min(doc_id) AS canonical_id
      FROM documents
      GROUP BY 1
    )
    WHERE n_docs > 1
    ORDER BY content_hash
    """,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content-key hash (here: the first-5-token prefix so
    the synthetic corpus actually has collisions). One hash-groupBy —
    the minimal-shuffle dedup primitive."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 5))
    out = exact_dedup_groups(docs, "doc_id", key)
    return out.filter(F.col("n_docs") > 1).orderBy("content_hash")


@register(
    "dedup_jaccard_pairs",
    oracle=sql_jaccard_pairs("documents", "doc_id", "text", n=3, threshold=0.5)
    + " ORDER BY doc_a, doc_b",
    tags=("dedup", "headline"),
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram (word 3-shingle) Jaccard near-dup pairs ≥ 0.5 — exact
    set-overlap join; the verify stage of any LSH pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).orderBy("doc_a", "doc_b")


@register(
    "dedup_jaccard_prefix_filtered",
    oracle=sql_jaccard_pairs("documents", "doc_id", "text", n=3, threshold=0.5)
    + " ORDER BY doc_a, doc_b",
    tags=("dedup",),
)
def dedup_jaccard_prefix_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard join: candidates come
    from a rarest-shingle prefix join, then per-candidate verify. The
    oracle is the NAIVE all-pairs join — the hash match proves the
    filter loses nothing. (On this uniform-frequency synthetic corpus
    the naive join is still faster; with Zipfian shingle frequencies at
    real scale the prefix join's candidate reduction dominates —
    measured and documented in SCALE.md.)"""
    from ..operators.dedup import jaccard_pairs_prefix

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs_prefix(docs, "doc_id", "text", n=3, threshold=0.5).orderBy("doc_a", "doc_b")


@register(
    "dedup_containment_prefix",
    oracle=sql_containment_pairs("documents", "doc_id", "text", n=3)
    + " ORDER BY doc_sub, doc_sup",
    tags=("dedup",),
)
def dedup_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED containment join (C(A,B) = |A∩B|/|A| ≥ 0.8): the
    doc-in-doc / quotation / train-on-subset detector that Jaccard
    misses (a small doc inside a big one has low Jaccard, containment
    ≈ 1).  Candidates from the ASYMMETRIC prefix filter — the sub
    side's rarest-shingle prefix probed against the sup side's full
    list, |B| ≥ t·|A| length filter, exact verify.  The oracle is the
    naive all-directed-pairs join: the hash match proves the asymmetric
    filter loses nothing."""
    from ..operators.dedup import containment_pairs_prefix

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs_prefix(docs, "doc_id", "text", n=3, threshold=0.8).orderBy(
        "doc_sub", "doc_sup"
    )


@register(
    "dedup_minhash_lsh",
    oracle=sql_minhash_near_dup("documents", "doc_id", "text", n=3, threshold=0.3)
    + " ORDER BY doc_a, doc_b",
    tags=("dedup",),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12) → LSH(4 bands × 3 rows) → exact-Jaccard verify ≥ 0.3.
    The oracle recomputes the identical sha256-based signature/banding
    pipeline in SQL — banding false-negatives and all."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dup(docs, "doc_id", "text", n=3, threshold=0.3).orderBy("doc_a", "doc_b")


@register(
    "dedup_candidate_estimate",
    oracle=_sql_band_est("documents", "doc_id", "text", n=3)
    + " ORDER BY band_id",
    tags=("dedup", "scale"),
)
def dedup_candidate_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT candidate-join pricing WITHOUT the join (SCALE.md addendum
    40's pre-flight): per MinHash band, the number of occupied buckets
    and the pair count Σ C(c,2) the band-equality join WOULD emit —
    one aggregation at O(|bands|) where the join is O(Σc²).  At 100 TB
    this is how band count / width get tuned (and hot keys detected:
    max bucket size rides the same groupBy) before paying for a single
    candidate pair.  The oracle replays the identical sha256 banding
    and bucket arithmetic in SQL."""
    from ..operators.dedup import estimate_band_candidates, lsh_bands, minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    bands = lsh_bands(minhash_signatures(docs, "doc_id", "text", n=3))
    return estimate_band_candidates(bands).orderBy("band_id")


@register(
    "dedup_simhash",
    oracle=f"""
    SELECT doc_id, {sql_simhash('text')} AS simhash
    FROM documents
    WHERE doc_id % 5 = 0
    ORDER BY doc_id
    """,
    tags=("dedup",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32) signatures as bitstrings — hamming-banded near-dup is
    built on these (tests); the signature computation is the hash-heavy
    part and is verified bit-for-bit here."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return docs.select("doc_id", simhash(F.col("text")).alias("simhash")).orderBy("doc_id")


@register(
    "dedup_embedding_cosine",
    oracle=sql_embedding_near_dup("embeddings", threshold=0.45) + " ORDER BY id_a, id_b",
    tags=("dedup",),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: the semantic-dedup primitive,
    banded sign-LSH (4 bands × 4 bits) — candidate pairs come from
    band-equality equi-joins, NEVER an unconditioned crossJoin; exact
    cosine verifies candidates only. The oracle applies the identical
    banding, so the hash pins the bucketed contract. In-order float64
    folds → bit-identical scores. (Threshold 0.45 — the synthetic
    embeddings are near-orthogonal, max pairwise ≈ 0.51.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup(emb, threshold=0.45).orderBy("id_a", "id_b")


@register(
    "dedup_simhash_hamming",
    oracle=None,  # assigned below (needs sql_simhash/sql_hamming)
    tags=("dedup",),
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded hamming near-dup: candidates from the 4×8-bit
    band-equality equi-join, hamming ≤ 3 verified on candidates. By
    pigeonhole the banding is LOSSLESS at this distance, so the oracle
    is the naive all-pairs hamming join — the hash match proves the
    banded plan equals the quadratic one."""
    from ..operators.dedup import simhash_near_dup

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup(docs, "doc_id", "text", bands=4, max_hamming=3).orderBy(
        "doc_a", "doc_b"
    )


from ..operators.dedup import sql_hamming as _sqlham  # noqa: E402
from ..registry import REGISTRY as _REG3  # noqa: E402

_REG3["dedup_simhash_hamming"].oracle = f"""
    WITH s AS (SELECT doc_id, {sql_simhash('text')} AS sig FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {_sqlham('a.sig', 'b.sig')} AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE {_sqlham('a.sig', 'b.sig')} <= 3
    ORDER BY doc_a, doc_b
    """


@register(
    "dedup_simhash_hamming64",
    oracle=None,  # assigned below (needs sql_simhash/sql_hamming)
    tags=("dedup", "scale"),
)
def dedup_simhash_hamming64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The candidate-law knob certified end-to-end (SCALE.md addendum
    40): 64-bit SimHash → 16-bit band keys, 65,536 buckets per band
    instead of 256 — the measured 7.6× candidate cut at 5k docs with
    the same hamming ≤ 3 pigeonhole losslessness (per-bits).  Same
    banded plan as dedup_simhash_hamming; the oracle is the naive
    all-pairs 64-bit hamming join, so the hash match proves the wider
    banding loses nothing either."""
    from ..operators.dedup import simhash_near_dup

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup(
        docs, "doc_id", "text", bits=64, bands=4, max_hamming=3
    ).orderBy("doc_a", "doc_b")


_REG3["dedup_simhash_hamming64"].oracle = f"""
    WITH s AS (SELECT doc_id, {sql_simhash('text', bits=64)} AS sig FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {_sqlham('a.sig', 'b.sig', bits=64)} AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE {_sqlham('a.sig', 'b.sig', bits=64)} <= 3
    ORDER BY doc_a, doc_b
    """


_EMB_PAIRS = sql_embedding_near_dup("embeddings", threshold=0.45)


@register(
    "dedup_embedding_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_EMB_PAIRS}),
    edges AS (
      SELECT id_a AS x, id_b AS y FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(x, y) AS (
      SELECT x, y FROM edges
      UNION
      SELECT r.x, e.y FROM reach r JOIN edges e ON e.x = r.y
    ),
    labels AS (
      SELECT x AS doc_id, least(x, min(y)) AS cluster_id FROM reach GROUP BY x
    )
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(max(doc_id) AS BIGINT) AS max_member
    FROM labels GROUP BY cluster_id ORDER BY cluster_id
    """,
    tags=("dedup", "similarity"),
)
def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup end to end: banded sign-LSH near-dup pairs →
    connected components → cluster roster (keep cluster_id = min member,
    drop the rest). Composes the scale-safe candidate generation with
    the clustering canonicalization — the oracle recomputes the closure
    with a recursive CTE."""
    from ..operators.dedup import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup(emb, threshold=0.45)
    cc = connected_components(pairs, a="id_a", b="id_b")
    return (
        cc.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max("doc_id").cast("long").alias("max_member"),
        )
        .orderBy("cluster_id")
    )


# ------------------------------------------------------------- similarity


@register(
    "ann_cosine_topk",
    oracle=f"""
    SELECT e.vec_id, {sql_cosine('e.embedding', 'q.embedding')} AS cos_sim
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 7) q
    WHERE e.vec_id <> 7
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    tags=("similarity", "headline"),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for one stored query vector — the exact
    ANN baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, 7, k=10)


@register(
    "ann_cosine_lsh",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {sql_sign_bucket('embedding', 8)} AS bkt
      FROM embeddings
    )
    SELECT e.vec_id, {sql_cosine('e.embedding', 'q.embedding')} AS cos_sim
    FROM b e JOIN (SELECT embedding, bkt FROM b WHERE vec_id = 7) q ON e.bkt = q.bkt
    WHERE e.vec_id <> 7
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    tags=("similarity",),
)
def ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH-bucketed ANN (8 bits → ~1/256 of rows scored). The oracle
    reproduces the identical bucketing, so the approximation itself is
    verified; recall vs the exact baseline is measured in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_lsh(emb, 7, k=10, bits=8)


from ..operators.similarity import (  # noqa: E402
    cosine_topk_lsh_multiprobe,
    sql_lsh_multiprobe,
)


@register(
    "ann_cosine_lsh_multiprobe",
    oracle=sql_lsh_multiprobe("embeddings", 7, k=10, bits=8),
    tags=("similarity",),
)
def ann_cosine_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN: the query's bucket plus all 8 hamming-1
    neighbor buckets (9 probes, still an equi-join — probe buckets
    explode from the broadcast query row). Recall strictly dominates
    single-probe at the same width; the oracle replays the identical
    9-bucket probe."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_lsh_multiprobe(emb, 7, k=10, bits=8)


# ------------------------------------------------------------ text analysis

_QM = sql_quality_metrics("text")


@register(
    "text_quality_metrics",
    oracle=f"""
    SELECT doc_id,
           {_QM['n_tokens']} AS n_tokens,
           {_QM['n_unique']} AS n_unique,
           {_QM['type_token_ratio']} AS type_token_ratio,
           {_QM['stopword_ratio']} AS stopword_ratio,
           {_QM['mean_token_len']} AS mean_token_len
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text", "headline"),
)
def text_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: token counts, lexical diversity,
    stopword ratio, mean token length — one scan, pure Column math."""
    docs = load_table(spark, sf_dir, "documents")
    m = quality_metrics(F.col("text"))
    return docs.select("doc_id", *[v.alias(k) for k, v in m.items()]).orderBy("doc_id")


@register(
    "text_language_id",
    oracle=f"""
    SELECT {sql_language_id('text')} AS lang_pred, count(*) AS n_docs
    FROM documents
    GROUP BY 1 ORDER BY 1
    """,
    tags=("text",),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language heuristic, aggregated."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(language_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_pred")
    )


@register(
    "text_fingerprints",
    oracle=f"""
    SELECT fp, count(*) AS n_docs, min(doc_id) AS canonical_id
    FROM (SELECT doc_id, {sql_fingerprint('text', 3)} AS fp FROM documents)
    GROUP BY fp
    HAVING count(*) > 1
    ORDER BY fp
    """,
    tags=("text",),
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprints (min-sha256 over 3-shingles) grouped
    to find colliding documents — the cheap near-dup prefilter."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", fingerprint(F.col("text"), 3).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("fp")
    )


@register(
    "ann_cosine_ivf",
    oracle=sql_ivf_kmeans(
        "embeddings", 7, k=10, n_centroids=8, n_probe=2, iters=2, dim=64
    ),
    tags=("similarity",),
)
def ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with a REAL k-means codebook (2 deterministic Lloyd
    iterations over fixed-point int64 sums, seeds = first-8 by id): the
    oracle replays codebook training, assignment, probe selection, and
    scoring bit-for-bit. Recall vs brute force asserted in
    tests/test_north_star.py."""
    from ..operators.similarity import cosine_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_ivf(
        emb, 7, k=10, n_centroids=8, n_probe=2, kmeans_iters=2, corpus_key=sf_dir
    )


from ..operators.dedup import sql_repeated_spans as _sql_rsp  # noqa: E402


@register(
    "dedup_exact_substring",
    oracle=_sql_rsp("documents", "doc_id", "text") + " ORDER BY span_hash",
    tags=("dedup", "text"),
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup: 64-char spans sampled every 32 chars,
    hashed once, one groupBy on the content hash — spans shared verbatim
    by >1 document are the cross-doc boilerplate an exact-substring
    hygiene pass strips before training. Linear work, uniform shuffle
    key; the oracle replays the identical span grid."""
    from ..operators.dedup import repeated_spans

    docs = load_table(spark, sf_dir, "documents")
    return repeated_spans(docs, "doc_id", "text").orderBy("span_hash")


from ..operators.textstats import sql_bpe_pair_counts as _sql_bpc  # noqa: E402


@register(
    "text_bpe_pair_counts",
    oracle=_sql_bpc("documents")
    + " ORDER BY pair_count DESC, pair LIMIT 30",
    tags=("text",),
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge step: corpus-weighted adjacent-character
    pair frequencies inside words, top pairs first — the next merge a
    BPE tokenizer trainer would perform. The corpus collapses to the
    word-frequency dictionary in the first partial-aggregated groupBy;
    the pair explode runs on that vocab-sized table, so the step costs
    one corpus shuffle however large the corpus."""
    from ..operators.textstats import bpe_pair_counts

    docs = load_table(spark, sf_dir, "documents")
    return (
        bpe_pair_counts(docs)
        .orderBy(F.desc("pair_count"), "pair")
        .limit(30)
    )


from ..operators.textstats import sql_dsir_weights as _sql_dsir  # noqa: E402


@register(
    "pipeline_dsir_weights",
    oracle=_sql_dsir("documents", "source = 'src18'")
    + " ORDER BY dsir_weight_q DESC, doc_id LIMIT 50",
    tags=("pipeline", "text"),
)
def pipeline_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): rank raw documents by
    log p_target − log p_raw under hashed-bigram bucket LMs (target =
    the src18 slice standing in for 'high-quality domain'). The feature
    LMs collapse to a 256-row bucket table whatever the corpus size;
    per-bucket λ is quantized to 2⁻¹² once on the driver and
    broadcast-joined back for an exact int64 per-doc sum — the
    importance-resampling pass that picks pretraining data at 100 TB."""
    from ..operators.textstats import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    return (
        dsir_weights(docs, F.col("source") == "src18")
        .orderBy(F.desc("dsir_weight_q"), "doc_id")
        .limit(50)
    )


from ..operators.textstats import sql_bpe_train_merges as _sql_bpt  # noqa: E402


@register(
    "text_bpe_train_merges",
    oracle=_sql_bpt("documents", n_merges=3) + " ORDER BY step",
    tags=("text",),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAINING LOOP (3 greedy merge steps, not just pair counting):
    each step picks the highest-count adjacent symbol pair over the
    word-frequency dictionary and applies the merge before re-counting
    — step 1 equals text_bpe_pair_counts' top row, steps 2-3 see the
    merged symbols. Everything after the one corpus word-count runs on
    the vocab-sized dictionary; the chosen pair per step is a 1-row
    driver artifact like the k-means codebook. The oracle unrolls the
    identical steps (merge application = fixed-count sentinel-bounded
    literal replaces, property-pinned equal to canonical left-to-right
    BPE merging)."""
    from ..operators.textstats import bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_merges(docs, n_merges=3).orderBy("step")


from ..operators.textstats import sql_pmi_pairs as _sql_pmi  # noqa: E402


@register(
    "text_pmi_cooccurrence",
    oracle=_sql_pmi("documents")
    + " ORDER BY pmi_ppm DESC, tok_a, tok_b LIMIT 40",
    tags=("text",),
)
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level PMI between token pairs (collocation mining / the
    word2vec-era PMI matrix primitive), ranked by the all-integer PMI
    ratio in ppm — log is monotone so no float log is needed and both
    engines agree bit-for-bit. The quadratic pair step is fenced to the
    broadcast top-vocab; corpus-sized work is one distinct-token explode
    plus partial-aggregated counts."""
    from ..operators.textstats import pmi_pairs

    docs = load_table(spark, sf_dir, "documents")
    return (
        pmi_pairs(docs)
        .orderBy(F.desc("pmi_ppm"), "tok_a", "tok_b")
        .limit(40)
    )


from ..operators.dedup import sql_paragraph_dedup as _sql_pdd  # noqa: E402


@register(
    "dedup_paragraphs",
    oracle=_sql_pdd("documents", "doc_id", "text") + " ORDER BY doc_id",
    tags=("dedup", "text"),
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style paragraph-level dedup: paragraphs (10-word blocks here —
    the segmentation is a parameter; web corpora split on newlines) that
    repeat across the corpus survive only at their globally-first
    occurrence, and every document is rebuilt from its surviving
    paragraphs. The keep-decision is a partial-aggregated min-owner
    groupBy (hot boilerplate paragraphs combine map-side — no
    single-task window partition), then one equi-join back: the shape
    that removes terabytes of repeated boilerplate at 100 TB without a
    skewed shuffle."""
    from ..operators.dedup import paragraph_dedup

    docs = load_table(spark, sf_dir, "documents")
    return paragraph_dedup(docs, "doc_id", "text").orderBy("doc_id")


from ..operators.similarity import sql_semantic_near_dup as _sql_semdd  # noqa: E402


@register(
    "dedup_semantic_kmeans",
    oracle=_sql_semdd("embeddings", threshold=0.4, n_centroids=8, iters=2, dim=64)
    + " ORDER BY id_a, id_b",
    tags=("dedup", "similarity"),
)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means-cluster the embedding
    corpus (same trained codebook as IVF via corpus_key), then exact
    cosine ONLY within a cluster — candidate work ~N²/k and the pair
    join is an equi-join on centroid_id, co-locating each cluster under
    one shuffle key (the IVF list layout at 100 TB). The oracle replays
    training + assignment + the within-cluster join bit-for-bit."""
    from ..operators.similarity import semantic_near_dup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_near_dup(
        emb, threshold=0.4, n_centroids=8, kmeans_iters=2, corpus_key=sf_dir
    ).orderBy("id_a", "id_b")


@register(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id,
           {{ws}} AS ws_tokens,
           {{bpe}} AS bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    ORDER BY doc_id
    """.format(
        ws="CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS BIGINT)",
        bpe="CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)",
    ),
    tags=("text",),
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace words and a BPE-ish
    pre-tokenizer regex (letter runs / digit runs / punctuation) — the
    per-document length accounting a training pipeline budgets with."""
    from ..operators.textstats import bpe_ish_count, token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("ws_tokens"),
        bpe_ish_count(F.col("text")).cast("long").alias("bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    ).orderBy("doc_id")


from ..operators.textstats import sql_unigram_surprisal as _sql_usup  # noqa: E402


@register(
    "text_unigram_surprisal",
    oracle=_sql_usup("documents") + " ORDER BY doc_id",
    tags=("text",),
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring: per-document average surprisal in
    bits under the corpus's own unigram distribution — rare-token-heavy
    docs rank high, boilerplate low. Per-token -log2 p is quantized to
    a 2^-12-bit integer grid before summation, so the aggregate is
    exact int64 math and the oracle hash is stable."""
    from ..operators.textstats import unigram_surprisal

    docs = load_table(spark, sf_dir, "documents")
    return unigram_surprisal(docs, corpus_key=sf_dir).orderBy("doc_id")


from ..operators.textstats import sql_bigram_lm_surprisal as _sql_bsup  # noqa: E402


@register(
    "text_bigram_lm_surprisal",
    oracle=_sql_bsup("documents") + " ORDER BY doc_id",
    tags=("text",),
)
def text_bigram_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality scoring (the CCNet-style filter
    shape): per-document avg bits/token under p(w|prev) =
    0.9·c(prev,w)/c(prev) + 0.1·c(w)/N, bigram table hard-capped at the
    top-M by (count, prev, cur) with unigram backoff for the tail.
    Per-token surprisal is quantized to the 2^-12-bit integer grid on
    the driver, so the distributed aggregate is exact int64 math and
    the oracle hash is stable."""
    from ..operators.textstats import bigram_lm_surprisal

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_surprisal(docs, corpus_key=sf_dir).orderBy("doc_id")


@register(
    "text_language_id_ngram",
    oracle=None,  # set below after import-time generation
    tags=("text",),
)
def text_language_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via character-trigram profiles (en/de/fr), argmax with
    deterministic tie order — the n-gram heuristic the stopword variant
    approximates."""
    from ..operators.textstats import language_id_ngram

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(language_id_ngram(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_pred")
    )


# attach the generated oracle (built from the same profile constants)
from ..operators.textstats import sql_language_id_ngram as _slin  # noqa: E402
from ..registry import REGISTRY as _REG  # noqa: E402

_REG["text_language_id_ngram"].oracle = f"""
    SELECT {_slin('text')} AS lang_pred, count(*) AS n_docs
    FROM documents
    GROUP BY 1 ORDER BY 1
    """


@register(
    "dedup_clusters",
    oracle=None,  # assigned below (needs the generated pairs SQL)
    tags=("dedup",),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the Jaccard≥0.5
    pair graph; cluster_id = min member (the canonical doc). Oracle:
    recursive CTE computing min reachable id over the same pairs."""
    from ..operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return connected_components(pairs).orderBy("doc_id")


from ..registry import REGISTRY as _REG2  # noqa: E402
from ..operators.dedup import sql_jaccard_pairs as _sjp  # noqa: E402

_pairs_sql = _sjp("documents", "doc_id", "text", n=3, threshold=0.5)
_REG2["dedup_clusters"].oracle = f"""
    WITH RECURSIVE
    pairs AS ({_pairs_sql}),
    edges AS (
      SELECT doc_a AS x, doc_b AS y FROM pairs
      UNION
      SELECT doc_b AS x, doc_a AS y FROM pairs
    ),
    reach(x, y) AS (
      SELECT x, y FROM edges
      UNION
      SELECT r.x, e.y FROM reach r JOIN edges e ON e.x = r.y
    )
    SELECT x AS doc_id,
           least(x, min(y)) AS cluster_id
    FROM reach
    GROUP BY x
    ORDER BY doc_id
    """


# ----------------------------------------------------- quality-rule gate


@register(
    "text_gopher_rules",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             {_QM['n_tokens']} AS n_tokens,
             {_QM['mean_token_len']} AS mtl,
             {_QM['stopword_ratio']} AS swr
      FROM documents
    ),
    flags AS (
      SELECT doc_id,
             CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_len,
             CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END AS r_mtl,
             CASE WHEN swr >= 0.02 THEN 1 ELSE 0 END AS r_stop
      FROM m
    )
    SELECT rule, n_pass FROM (
      SELECT '1_len' AS rule, CAST(sum(r_len) AS BIGINT) AS n_pass FROM flags
      UNION ALL SELECT '2_mean_token_len', CAST(sum(r_mtl) AS BIGINT) FROM flags
      UNION ALL SELECT '3_stopwords', CAST(sum(r_stop) AS BIGINT) FROM flags
      UNION ALL SELECT '4_all',
        CAST(sum(CASE WHEN r_len + r_mtl + r_stop = 3 THEN 1 ELSE 0 END) AS BIGINT) FROM flags
    ) ORDER BY rule
    """,
    tags=("text",),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document-quality rule gate (length bounds, mean token
    length, stopword presence — the published heuristic family for web
    corpus cleaning) as one scan + one tall summary: (rule, n_pass).
    All-integer pass counts hash exactly."""
    docs = load_table(spark, sf_dir, "documents")
    m = quality_metrics(F.col("text"))
    flags = docs.select(
        F.when(m["n_tokens"].between(50, 100000), 1).otherwise(0).alias("r_len"),
        F.when(m["mean_token_len"].between(3.0, 10.0), 1).otherwise(0).alias("r_mtl"),
        F.when(m["stopword_ratio"] >= 0.02, 1).otherwise(0).alias("r_stop"),
    )
    agg = flags.agg(
        F.sum("r_len").cast("long").alias("n_len"),
        F.sum("r_mtl").cast("long").alias("n_mtl"),
        F.sum("r_stop").cast("long").alias("n_stop"),
        F.sum(
            F.when(F.col("r_len") + F.col("r_mtl") + F.col("r_stop") == 3, 1).otherwise(0)
        ).cast("long").alias("n_all"),
    )
    tall = agg.select(
        F.explode(
            F.array(
                F.struct(F.lit("1_len").alias("rule"), F.col("n_len").alias("n_pass")),
                F.struct(F.lit("2_mean_token_len").alias("rule"), F.col("n_mtl").alias("n_pass")),
                F.struct(F.lit("3_stopwords").alias("rule"), F.col("n_stop").alias("n_pass")),
                F.struct(F.lit("4_all").alias("rule"), F.col("n_all").alias("n_pass")),
            )
        ).alias("r")
    ).select("r.rule", "r.n_pass")
    return tall.orderBy("rule")


from ..operators.similarity import sql_pq_topk as _sql_pq  # noqa: E402


@register(
    "ann_cosine_pq",
    oracle=_sql_pq("embeddings", 7, k=10, m=4, k_sub=8, iters=2, dim=64),
    tags=("similarity",),
)
def ann_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 4 subspaces × 8 centroids, each
    sub-codebook trained with the deterministic fixed-point k-means;
    stored vectors reduce to 4 codes, scoring = exact query subvectors
    · reconstructed centroids (asymmetric distance).  The memory-bound
    ANN design for 100 TB (codes + tiny lookup tables instead of raw
    floats).  The oracle replays all four trainings, the encoding, and
    the in-order scoring bit-for-bit; recall vs brute force asserted in
    tests/test_north_star.py."""
    from ..operators.similarity import cosine_topk_pq

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_pq(
        emb, 7, k=10, m=4, k_sub=8, kmeans_iters=2, dim=64, corpus_key=sf_dir
    )


from ..operators.similarity import sql_pq_rerank as _sql_pqr  # noqa: E402


@register(
    "ann_cosine_pq_rerank",
    oracle=_sql_pqr("embeddings", 7, k=10, shortlist=50, m=4, k_sub=8, iters=2, dim=64),
    tags=("similarity",),
)
def ann_cosine_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ retrieval (the production shape): code-only PQ
    shortlist of 50 (10% of this corpus), exact cosine re-rank to
    top-10 — 8/10 recall of the exact top-10 where direct PQ ranking
    gives 3/10 (measured, SCALE.md).  Both stages oracle-replayed."""
    from ..operators.similarity import cosine_topk_pq_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_pq_rerank(
        emb, 7, k=10, shortlist=50, m=4, k_sub=8, kmeans_iters=2, dim=64, corpus_key=sf_dir
    )


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({{toks}}) AS tok FROM documents
    ),
    cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
    ranked AS (
      SELECT c,
             row_number() OVER (ORDER BY c DESC, tok) AS rank,
             sum(c) OVER (ORDER BY c DESC, tok ROWS UNBOUNDED PRECEDING) AS cum,
             (SELECT CAST(sum(c) AS BIGINT) FROM cnt) AS total
      FROM cnt
    )
    SELECT CAST(rank AS BIGINT) AS vocab_size,
           CAST(cum AS BIGINT) AS tokens_covered,
           CAST(cum * 10000 // total AS BIGINT) AS coverage_bp
    FROM ranked
    WHERE rank IN (5, 10, 20, 30)
    ORDER BY vocab_size
    """.format(toks="list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"),
    tags=("text",),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design primitive: corpus token coverage at candidate
    vocabulary sizes — what % of all token occurrences the top-k
    most-frequent types cover (rank ties broken lexically; coverage in
    integer basis points, so the cumulative math is exact). The global
    ranking window runs over the VOCABULARY (dimension-sized after the
    count groupBy), not the corpus — the one place a single-partition
    window is the honest plan."""
    from ..operators.textstats import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
    cnt = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql.window import Window as W

    w = W.orderBy(F.desc("c"), "tok")
    total = cnt.agg(F.sum("c").cast("long").alias("_t"))
    ranked = (
        cnt.withColumn("rank", F.row_number().over(w))
        .withColumn("cum", F.sum("c").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .filter(F.col("rank").isin(5, 10, 20, 30))
        .crossJoin(F.broadcast(total))
    )
    return ranked.select(
        F.col("rank").cast("long").alias("vocab_size"),
        F.col("cum").cast("long").alias("tokens_covered"),
        F.floor(F.col("cum") * 10000 / F.col("_t")).cast("long").alias("coverage_bp"),
    ).orderBy("vocab_size")


# --------------------------------------------------------- decontamination

from ..operators.dedup import sql_ngram_decontaminate as _sql_decon  # noqa: E402

_DECON_BENCH = "doc_id % 29 = 3"


@register(
    "decontaminate_ngram_overlap",
    oracle=_sql_decon("documents", _DECON_BENCH, n=4) + " ORDER BY doc_id",
    tags=("dedup", "text"),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 App. C / Gopher-style): flag
    corpus documents sharing any word 4-gram with the held-out
    evaluation slice (here a deterministic ~3% carve-out of documents).
    The benchmark's distinct shingle set broadcasts — eval suites are
    thousands of docs — so the corpus pays one scan + broadcast-hash
    join, no corpus shuffle. Returns (doc_id, n_collisions) for
    contaminated docs; a real pipeline drops them before training."""
    from ..operators.dedup import ngram_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 29 == 3)
    corpus = docs.filter(F.col("doc_id") % 29 != 3)
    return ngram_decontaminate(corpus, bench, n=4).orderBy("doc_id")


# ------------------------------------------------------ incremental dedup

_MINHASH_GLOBAL = sql_minhash_near_dup("documents", "doc_id", "text", n=3, threshold=0.3)


@register(
    "dedup_incremental_batch",
    oracle=f"""
    SELECT * FROM ({_MINHASH_GLOBAL})
    WHERE doc_a % 7 = 0 OR doc_b % 7 = 0
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup",),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: near-dups of an incoming batch (doc_id % 7 = 0)
    against the standing corpus (the rest) plus within-batch pairs —
    via the corpus's precomputed MinHash band index, so the corpus is
    never re-banded or self-joined. Output is pinned equal to GLOBAL
    MinHash/LSH restricted to pairs touching the batch (the oracle
    computes exactly that), banding false-negatives and all."""
    from ..operators.dedup import incremental_minhash_near_dup

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return incremental_minhash_near_dup(
        new, corpus, "doc_id", "text", n=3, threshold=0.3
    ).orderBy("doc_a", "doc_b")


# ------------------------------------------------------------- batch kNN

from ..operators.similarity import sql_knn_join as _sql_knn  # noqa: E402


@register(
    "ann_knn_join_batch",
    oracle=_sql_knn("embeddings", "vec_id % 101 = 5", k=5)
    + " ORDER BY query_id, rank",
    tags=("similarity",),
)
def ann_knn_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: top-5 cosine neighbors for EVERY vector in a
    query batch (a deterministic ~1% slice of embeddings) — the
    retrieval/labeling primitive single-query ANN doesn't cover. Query
    batch broadcasts; scoring is one projection; per-query top-k is a
    window partitioned by query id with id tie-breaks. At scale the
    same window runs over IVF/LSH-pruned candidates instead of the
    exact product (prefilters built in operators/similarity.py)."""
    from ..operators.similarity import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 101 == 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_join(
        q, emb, k=5, query_id_col="query_id", exclude_self=True
    ).orderBy("query_id", "rank")


from ..operators.similarity import sql_knn_join_ivf as _sql_knn_ivf  # noqa: E402


@register(
    "ann_knn_join_batch_ivf",
    oracle=_sql_knn_ivf(
        "embeddings", "vec_id % 101 = 5", k=5, n_centroids=8, n_probe=2, iters=2, dim=64
    )
    + " ORDER BY query_id, rank",
    tags=("similarity",),
)
def ann_knn_join_batch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned batch k-NN join — the scale path for the same query
    batch as ann_knn_join_batch: each query scores only its 2 probed
    centroids' lists (~1/4 of the exact product). Probe selection is a
    distributed |batch|×n_centroids cross of broadcast-sized frames (no
    driver loop); the oracle replays training, assignment, probes and
    scoring, pinning the approximation misses included."""
    from ..operators.similarity import knn_join_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 101 == 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_join_ivf(
        q, emb, k=5, n_centroids=8, n_probe=2, kmeans_iters=2,
        query_id_col="query_id", exclude_self=True, corpus_key=sf_dir,
    ).orderBy("query_id", "rank")


# -------------------------------------------------- repetition metrics

from ..operators.textstats import sql_repetition_metrics as _sql_rep  # noqa: E402


@register(
    "text_repetition_metrics",
    oracle=_sql_rep("documents") + " ORDER BY doc_id",
    tags=("text",),
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-removal metrics (Rae et al. 2021 §A1.1): per
    document, the fraction of word 3-grams that are repeats and the
    share of the most frequent 2-gram — the boilerplate/spam signals
    that complete the Gopher rule family next to text_gopher_rules'
    length/stopword gates. Integer counts, one double division each."""
    from ..operators.textstats import repetition_metrics

    docs = load_table(spark, sf_dir, "documents")
    return repetition_metrics(docs).orderBy("doc_id")


# ------------------------------------------------ streaming incremental dedup


@register(
    "dedup_streaming_incremental",
    oracle=_MINHASH_GLOBAL + " ORDER BY doc_a, doc_b",
    tags=("dedup", "streaming"),
)
def dedup_streaming_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous dedup: the corpus replayed as 3 arriving micro-batches
    (maxFilesPerTrigger=1, availableNow), each foreachBatch near-dup-
    checking against the ACCUMULATED band index — the streaming twin of
    dedup_incremental_batch. The oracle is the GLOBAL batch MinHash/LSH
    pass: every pair must be discovered exactly once, when its later
    member arrives, so streaming replay == batch pass bit-for-bit."""
    from ..streaming.dedup_stream import streaming_incremental_dedup

    return streaming_incremental_dedup(
        spark, sf_dir, n=3, threshold=0.3, arrival_batches=3
    ).orderBy("doc_a", "doc_b")


@register(
    "dedup_streaming_paragraphs",
    oracle=_sql_pdd("documents", "doc_id", "text") + " ORDER BY doc_id",
    tags=("dedup", "streaming", "text"),
)
def dedup_streaming_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous paragraph-level dedup: the corpus replayed as 3
    ascending doc_id-range micro-batches, each keeping only paragraphs
    unseen in the accumulated kept-paragraph index (state = distinct
    paragraphs, not corpus text; per batch O(batch) segmentation + one
    index anti-join). The oracle is the GLOBAL paragraph_dedup pass:
    ascending arrival makes batch-first == corpus-first, so streaming
    replay equals the batch pass bit-for-bit."""
    from ..streaming.dedup_stream import streaming_paragraph_dedup

    return streaming_paragraph_dedup(spark, sf_dir, arrival_batches=3).orderBy("doc_id")


# ------------------------------------------------------- sequence packing

from ..operators.textstats import sql_pack_chunks as _sql_pack  # noqa: E402


@register(
    "pipeline_pack_chunks",
    oracle=_sql_pack("documents", chunk_tokens=512) + " ORDER BY doc_id",
    tags=("pipeline", "text"),
)
def pipeline_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing (the GPT-style pre-training
    batching step): documents laid end-to-end in doc_id order, cut into
    512-token chunks; per document the (tok_start, chunk_start,
    chunk_end, n_chunks) span. One cumulative-sum window over doc-count
    rows — per-document, not per-token, so the window input stays tiny
    at any corpus scale (shard + offset at 100 TB)."""
    from ..operators.textstats import pack_chunks

    docs = load_table(spark, sf_dir, "documents")
    return pack_chunks(docs, chunk_tokens=512).orderBy("doc_id")


# --------------------------------------------------------------- PII scan

from ..operators.textstats import sql_pii_scan as _sql_pii  # noqa: E402

#: deterministic PII planted in a slice of the corpus (testdata has
#: none) — identical augmentation on both engines, so the scan has
#: real positives to find
_PII_AUG_SQL = """
    SELECT doc_id,
           text || CASE WHEN doc_id % 50 = 0
                        THEN ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@example.com at 10.0.' || CAST(doc_id % 255 AS VARCHAR)
                             || '.7 or +1-555-123-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                        ELSE '' END AS text
    FROM documents
"""


@register(
    "text_pii_scan",
    oracle=_sql_pii(f"({_PII_AUG_SQL})") + " ORDER BY doc_id",
    tags=("text", "pipeline"),
)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan (the privacy pass C4/Dolma/RefinedWeb run before
    release): per-document email / phone / IPv4 / SSN-shaped match
    counts + total, as a pure regexp_count projection — no UDF, no
    shuffle. Patterns restricted to engine-portable regex constructs.
    The corpus is synthetically PII-free, so a deterministic slice gets
    planted contacts (identical expression on both engines) to prove
    the scan finds real positives."""
    from ..operators.textstats import pii_scan

    return pii_scan(_pii_augmented(spark, sf_dir)).orderBy("doc_id")


def _pii_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _PII_AUG_SQL — keep in sync."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 50 == 0,
                F.concat(
                    F.lit(" contact user"), F.col("doc_id").cast("string"),
                    F.lit("@example.com at 10.0."),
                    (F.col("doc_id") % 255).cast("string"),
                    F.lit(".7 or +1-555-123-"),
                    (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


from ..operators.textstats import sql_pii_redact as _sql_piir  # noqa: E402


@register(
    "text_pii_redact",
    oracle=_sql_piir(f"({_PII_AUG_SQL})") + " ORDER BY doc_id",
    tags=("text", "pipeline"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the action stage after the scan: every email /
    phone / IPv4 / SSN-shaped match becomes a typed placeholder
    (<EMAIL> …), applied as one chained regexp_replace projection (no
    UDF, no shuffle). Runs over the same deterministically-planted
    corpus slice as text_pii_scan, so real replacements are
    gate-verified character-for-character on both engines."""
    from ..operators.textstats import pii_redact

    return pii_redact(_pii_augmented(spark, sf_dir)).orderBy("doc_id")


# ---------------------------------------------------- leakage-safe split

from ..operators.dedup import sql_leakage_safe_split as _sql_lss  # noqa: E402


@register(
    "pipeline_leakage_safe_split",
    oracle=_sql_lss("documents", _MINHASH_GLOBAL) + " ORDER BY doc_id",
    tags=("pipeline", "dedup"),
)
def pipeline_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/test split: MinHash near-dup clusters land
    entirely on one side (split chosen by a sha256 bucket of the
    CLUSTER id), so paraphrase-level duplicates can never straddle
    train and eval — the dataset-hygiene step a naive per-document
    hash split gets wrong. Composition of existing verified operators
    (minhash_near_dup → connected_components → bucketed assignment);
    the oracle replays the whole chain including the recursive-CTE
    closure."""
    from ..operators.dedup import leakage_safe_split, minhash_near_dup

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup(docs, "doc_id", "text", n=3, threshold=0.3)
    return leakage_safe_split(docs, pairs).orderBy("doc_id")


from ..operators.similarity import sql_recall_lsh_multiprobe as _sql_recall  # noqa: E402


@register(
    "ann_recall_lsh_multiprobe",
    oracle=_sql_recall("embeddings", "vec_id % 100 = 7", k=10, bits=8),
    tags=("similarity", "quality"),
)
def ann_recall_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval QUALITY as a first-class measured operator: recall@10
    of the batch multiprobe-LSH join against the exact top-10, over a
    deterministic 1% query slice.  'Measure, don't guess' applied to
    the ANN path itself — the oracle replays both the probe join and
    the exact baseline, so the recall number (approximation misses
    included) is pinned, not asserted.  In production this runs as the
    continuous index-health check next to the ANN serving path.

    Measured: recall@10 = 0.115 at sf0.1 (20 queries, 9 probes touching
    ~3.5% of the corpus).  Low by design of the DATA, not the operator:
    the synthetic embeddings are i.i.d.-isotropic — the worst case for
    sign-LSH, whose buckets only help when neighbors cluster by
    direction.  That is exactly what an index-health probe is for: it
    tells you THIS corpus needs the IVF path (trained centroids adapt
    to the actual distribution; see ann_cosine_ivf / SCALE.md PQ-recall
    addendum) rather than data-independent hyperplanes."""
    from ..operators.similarity import knn_join, knn_join_lsh_multiprobe, recall_at_k

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = knn_join_lsh_multiprobe(q, emb, k=10, bits=8, query_id_col="query_id")
    exact = knn_join(q, emb, k=10, query_id_col="query_id", exclude_self=True)
    return recall_at_k(approx, exact, q, k=10, query_id_col="query_id")


from ..operators.textstats import sql_bpe_tokenize_stats as _sql_bpe_apply  # noqa: E402


@register(
    "text_bpe_tokenize_stats",
    oracle=_sql_bpe_apply("documents", n_merges=3),
    tags=("text", "tokenizer"),
)
def text_bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY at corpus scale: the 3 trained BPE merges applied
    to every document, reporting per-doc word/subword counts and the
    ⌊10⁴·subwords/words⌋ compression ratio (integer math both engines).
    Dictionary trick: the merges touch only the vocab-sized word table;
    the corpus-sized pass is one explode + broadcast-dictionary join +
    per-doc sum — the same 100 TB shape as the surprisal scorer."""
    from ..operators.textstats import bpe_tokenize_stats

    docs = load_table(spark, sf_dir, "documents")
    return bpe_tokenize_stats(docs, "doc_id", "text", n_merges=3)


from ..operators.textstats import sql_classifier_score as _sql_cls  # noqa: E402


@register(
    "text_classifier_score",
    oracle=_sql_cls("documents"),
    tags=("text", "quality"),
)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier APPLY at corpus scale (the fasttext-
    filter shape every CCNet/RefinedWeb-style pipeline runs): hashed
    bag-of-tokens features (sha256-prefix buckets, engine-portable),
    a 256-row broadcast weight artifact, one exact-int64 per-doc sum.
    Weights are the honestly-labeled deterministic stand-in for a
    shipped model file; the scoring dataflow is the real contract."""
    from ..operators.textstats import classifier_score

    docs = load_table(spark, sf_dir, "documents")
    return classifier_score(docs, "doc_id", "text")


from ..operators.textstats import sql_classifier_train as _sql_cls_train  # noqa: E402


@register(
    "text_classifier_train",
    oracle=_sql_cls_train("documents"),
    tags=("text", "quality", "iterative"),
)
def text_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier TRAINING at corpus scale — the other half of the
    fasttext loop (text_classifier_score is the apply): 3 batch-
    perceptron epochs distill the corpus's lang label into hashed-token
    weights.  Pure-integer updates (η=1, counts × int weights) make the
    training run itself oracle-replayable — DuckDB unrolls the same
    epochs as chained CTEs and all 256 final weights match bit-for-bit,
    the same fixed-point contract as PageRank/k-means.  Scale shape:
    the (doc, bucket, cnt, y) design matrix is built once and
    checkpointed; each epoch is a 256-row broadcast join plus two
    partial-aggregated shuffles.

    Honesty note (cf. the multimodal fake-decode label): the synthetic
    corpus draws every lang's text from ONE vocabulary, so this label is
    not token-learnable and training correctly converges to the majority
    predictor — which the oracle replays exactly; that replay is the
    contract here.  tests/test_classifier_train.py proves the same
    trainer reaches 100% train accuracy on a separable corpus."""
    from ..operators.textstats import classifier_train

    docs = load_table(spark, sf_dir, "documents")
    return classifier_train(docs, "doc_id", "text", label_col="lang", pos_label="en")


from ..operators.textstats import sql_classifier_eval as _sql_cls_eval  # noqa: E402


@register(
    "text_classifier_eval",
    oracle=_sql_cls_eval("documents"),
    tags=("text", "quality", "iterative"),
)
def text_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train → evaluate in one oracle-replayable dataflow: the confusion
    matrix (n_docs, tp/fp/tn/fn) of the batch-perceptron model on its
    training corpus — the metric loop every quality-filter pipeline
    closes before shipping weights.  On this corpus the lang label is
    not token-learnable (see text_classifier_train), so the matrix
    documents the majority-predictor convergence honestly: fn = 0 or
    tp = 0 style collapses are visible in the gate row, not hidden
    behind an accuracy scalar."""
    from ..operators.textstats import classifier_eval

    docs = load_table(spark, sf_dir, "documents")
    return classifier_eval(docs, "doc_id", "text", label_col="lang", pos_label="en")


@register(
    "streaming_quality_gate",
    oracle=f"""
    SELECT CAST(doc_id % 3 AS BIGINT) AS batch_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
    FROM ({_sql_cls("documents")}) scored
    GROUP BY doc_id % 3
    ORDER BY batch_id
    """,
    tags=("streaming", "quality"),
)
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality classifier as a STREAMING stage: three micro-batch
    arrivals drained with availableNow, each scored statelessly; the
    oracle is the batch classifier grouped by the arrival split —
    stream/batch agreement pinned exactly (same int64 scores)."""
    from ..streaming.dedup_stream import stream_quality_gate

    return stream_quality_gate(spark, sf_dir, arrival_batches=3)


@register(
    "pipeline_pretraining_stats",
    oracle=f"""
    WITH kept AS (
      SELECT d.doc_id, d.text
      FROM documents d JOIN ({_sql_cls("documents")}) s USING (doc_id)
      WHERE s.keep
    ),
    en AS (
      SELECT doc_id, text FROM kept
      WHERE {{lang}} = 'en'
    ),
    keyed AS (
      SELECT doc_id, text,
             sha256(list_aggregate({{toks}}, 'string_agg', ' ')) AS k
      FROM en
    ),
    exact AS (
      SELECT e.doc_id, e.text
      FROM keyed e JOIN (SELECT k, min(doc_id) AS doc_id FROM keyed GROUP BY k) c
        ON e.k = c.k AND e.doc_id = c.doc_id
    ),
    toks AS (SELECT CAST(coalesce(sum({{ntok}}), 0) AS BIGINT) AS total FROM exact)
    SELECT stage, n FROM (
      SELECT '1_input' AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
      UNION ALL SELECT '2_classifier', CAST(count(*) AS BIGINT) FROM kept
      UNION ALL SELECT '3_english', CAST(count(*) AS BIGINT) FROM en
      UNION ALL SELECT '4_exact', CAST(count(*) AS BIGINT) FROM exact
      UNION ALL SELECT '5_chunks', CAST((total + 511) // 512 AS BIGINT) FROM toks
    ) t
    ORDER BY stage
    """.format(
        lang=__import__(
            "binaryx_graph_spark.operators.textstats", fromlist=["sql_language_id"]
        ).sql_language_id("text"),
        toks=__import__(
            "binaryx_graph_spark.operators.textstats", fromlist=["SQL_TOKENS"]
        ).SQL_TOKENS.format(col="text"),
        ntok=__import__(
            "binaryx_graph_spark.operators.textstats", fromlist=["sql_token_count"]
        ).sql_token_count("text"),
    ),
    tags=("pipeline", "composed"),
)
def pipeline_pretraining_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END pre-training data pipeline, v2 composition:
    classifier quality gate → language filter → exact dedup →
    512-token sequence packing, with per-stage retention counts — every
    stage an already-verified operator, the composition itself
    oracle-checked (the DuckDB twin replays classifier weights, stopword
    language-ID, content-key dedup and the chunk arithmetic).

    Scale: each stage is one scan/shuffle of the shrinking survivor set;
    the packing summary needs only the global token total (ceil-div for
    the chunk count) — no per-token work anywhere."""
    from ..operators.textstats import classifier_score, language_id, token_count, tokens

    docs = load_table(spark, sf_dir, "documents")
    scored = classifier_score(docs, "doc_id", "text")
    kept = docs.join(
        scored.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
    )
    en = kept.filter(language_id(F.col("text")) == "en")
    keyed = en.select(
        "doc_id", "text",
        F.sha2(F.concat_ws(" ", tokens(F.col("text"))), 256).alias("_k"),
    )
    canon = keyed.groupBy("_k").agg(F.min("doc_id").alias("doc_id"))
    exact = keyed.join(canon, ["_k", "doc_id"], "left_semi").localCheckpoint(eager=True)

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
            F.lit(name).alias("stage"), "n"
        )

    chunks = exact.agg(
        F.coalesce(F.sum(token_count(F.col("text")).cast("long")), F.lit(0)).alias("_t")
    ).select(
        F.lit("5_chunks").alias("stage"),
        F.expr("(_t + 511) DIV 512").cast("long").alias("n"),  # exact int ceil-div
    )
    return (
        stage("1_input", docs)
        .unionByName(stage("2_classifier", kept))
        .unionByName(stage("3_english", en))
        .unionByName(stage("4_exact", exact))
        .unionByName(chunks)
        .orderBy("stage")
    )


from ..operators.graphalgo import sql_pagerank_fixed as _sql_prf  # noqa: E402
from ..operators.textstats import SQL_TOKENS as _SQLTOK  # noqa: E402

_TEXTRANK_EDGES_SQL = f"""
    WITH trbase AS (
      SELECT doc_id, {_SQLTOK.format(col='text')} AS toks FROM documents
    ),
    trtok AS (
      SELECT doc_id, toks[CAST(u.i AS INTEGER)] AS tok, CAST(u.i AS INTEGER) AS pos
      FROM trbase, unnest(range(1, len(toks) + 1)) AS u(i)
    ),
    trlag AS (
      SELECT doc_id, tok,
             lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM trtok
    ),
    trpairs AS (
      SELECT least(prev, tok) AS a, greatest(prev, tok) AS b, count(*) AS c
      FROM trlag WHERE prev IS NOT NULL AND prev <> tok
      GROUP BY a, b
    ),
    tredges AS (SELECT a, b FROM trpairs WHERE c >= 5)
    SELECT a AS src, b AS dst FROM tredges
    UNION ALL
    SELECT b AS src, a AS dst FROM tredges
"""


@register(
    "text_textrank_keywords",
    oracle=_sql_prf(_TEXTRANK_EDGES_SQL)
    + """
    ORDER BY rank_fp DESC, node
    LIMIT 20
    """,
    tags=("text", "graph", "iterative"),
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the word co-occurrence graph — adjacent-token pairs (count ≥ 5,
    undirected via both directions) ranked by the SAME exact-int64
    pagerank_fixed the call-graph query uses, with word strings as node
    ids (cast_ids=False).  Two verified primitives COMPOSED: the corpus
    pass is one lag window + one pair-count shuffle (dictionary-sized
    output), then the iterative ranking runs on the word graph, which is
    vocab²-bounded and in practice Zipf-sparse.  Top-20 keywords."""
    from pyspark.sql.window import Window

    from ..operators.graphalgo import pagerank_fixed
    from ..operators.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    lagged = tok.withColumn(
        "prev", F.lag("tok").over(Window.partitionBy("doc_id").orderBy("pos"))
    )
    pairs = (
        lagged.filter(F.col("prev").isNotNull() & (F.col("prev") != F.col("tok")))
        .groupBy(
            F.least("prev", "tok").alias("a"), F.greatest("prev", "tok").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 5)
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    ranks = pagerank_fixed(edges, iters=5, cast_ids=False)
    return ranks.orderBy(F.desc("rank_fp"), "node").limit(20)


@register(
    "text_heaps_law",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id % 10 AS slot, unnest({_SQLTOK.format(col='text')}) AS tok
      FROM documents
    ),
    firsts AS (SELECT tok, min(slot) AS first_slot FROM tok GROUP BY tok),
    totals AS (
      SELECT slot, count(*) AS n_tokens FROM tok GROUP BY slot
    )
    SELECT t.k,
           CAST(sum(tt.n_tokens) AS BIGINT) AS corpus_tokens,
           (SELECT CAST(count(*) AS BIGINT) FROM firsts WHERE first_slot < t.k)
             AS vocab_size
    FROM (SELECT unnest(range(1, 11)) AS k) t
    JOIN totals tt ON tt.slot < t.k
    GROUP BY t.k
    ORDER BY t.k
    """,
    tags=("text", "quality"),
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law measurement: vocabulary size vs corpus size over ten
    nested deterministic corpus prefixes (docs with doc_id % 10 < k) —
    the measured justification for every driver-collected vocab in this
    engine (unigram/bigram LM, BPE, vocab coverage): token counts grow
    linearly while distinct-token counts flatten.

    Scale: one explode + ONE token-keyed aggregate (min first-slot per
    token) + one slot aggregate — the nested prefixes are derived from
    the 10-row slot/fraction tables, never by rescanning the corpus per
    prefix."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 10).alias("slot"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    firsts = tok.groupBy("tok").agg(F.min("slot").alias("first_slot"))
    totals = tok.groupBy("slot").agg(F.count(F.lit(1)).alias("n_tokens"))
    ks = spark.range(1, 11).select(F.col("id").cast("bigint").alias("k"))
    corpus = (
        ks.join(totals, totals.slot < ks.k)
        .groupBy("k")
        .agg(F.sum("n_tokens").cast("long").alias("corpus_tokens"))
    )
    vocab = (
        ks.join(firsts, firsts.first_slot < ks.k)
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab_size"))
    )
    return corpus.join(vocab, "k").select(
        "k", "corpus_tokens", "vocab_size"
    ).orderBy("k")


@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_SQLTOK.format(col='text')} AS toks FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             toks[CAST(u.i AS INTEGER)] || ' ' ||
             toks[CAST(u.i AS INTEGER) + 1] || ' ' ||
             toks[CAST(u.i AS INTEGER) + 2] AS gram
      FROM base, unnest(range(1, len(toks) - 1)) AS u(i)
    ),
    df AS (SELECT gram, count(*) AS gdf FROM grams GROUP BY gram)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN d.gdf = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique_to_doc,
           (CAST(sum(CASE WHEN d.gdf = 1 THEN 1 ELSE 0 END) AS DOUBLE) * 100.0)
             / count(*) AS novelty_pct
    FROM grams g JOIN df d USING (gram)
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
    tags=("text", "quality"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the memorization/boilerplate
    signal: the share of a doc's distinct token-trigrams appearing in
    NO other document (corpus df = 1).  High novelty = original text;
    low = template/duplicated phrasing.  Complements the dedup family
    with a per-doc continuous score.

    Scale: one explode to distinct (doc, trigram) pairs, one
    trigram-keyed df count, one broadcast-free equi-join back (both
    sides shuffle on the gram hash), one doc-keyed rollup."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    trigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                # Spark sequence DESCENDS when start > stop — short docs
                # (< 3 tokens) get an explicit empty trigram list, like
                # DuckDB's end-exclusive range
                F.when(F.size(toks) >= 3, trigrams).otherwise(
                    F.array().cast("array<string>")
                )
            )
        ).alias("gram"),
    )
    df_counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("gdf"))
    return (
        grams.join(df_counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("gdf") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique_to_doc"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_unique_to_doc",
            (
                (F.col("n_unique_to_doc").cast("double") * F.lit(100.0))
                / F.col("n_grams").cast("double")
            ).alias("novelty_pct"),
        )
        .orderBy("doc_id")
    )


from ..operators.textstats import sql_bm25_topk as _sql_bm25  # noqa: E402

_BM25_QUERY = ["spark", "join", "window"]


@register(
    "text_bm25_topk",
    oracle=_sql_bm25("documents", _BM25_QUERY, k=25),
    tags=("text", "search"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-25 retrieval over the documents corpus for a fixed
    3-term query — the classic probabilistic IR ranking (Okapi BM25,
    Lucene's '+1' idf variant).  Per-(doc, term) contributions quantize
    to the 2^-12 grid with one identically-sequenced float expression
    in both engines, so the per-doc total is an exact int64 sum and
    the ranking replays bit-for-bit; dl is a shuffle-free projection,
    tf is fenced to query terms by a broadcast semi-join before the
    aggregate."""
    from ..operators.textstats import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_QUERY, k=25)


from ..operators.textstats import sql_chunk_overlap as _sql_chunk  # noqa: E402
from ..operators.textstats import sql_frequent_ngrams as _sql_fng  # noqa: E402


@register(
    "text_chunk_overlap",
    oracle=_sql_chunk("documents", size=32, stride=24)
    + " ORDER BY doc_id, chunk_idx",
    tags=("text", "pipeline"),
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (RAG / training splitter):
    size-32 windows at stride 24 (8-token overlap), every token covered,
    short docs yield one chunk.  Shuffle-free — one projection + one
    posexplode; the oracle replays the identical integer chunk-count
    rule and slicing."""
    from ..operators.textstats import chunk_overlap

    docs = load_table(spark, sf_dir, "documents")
    return chunk_overlap(docs, size=32, stride=24).orderBy("doc_id", "chunk_idx")


@register(
    "text_frequent_ngrams",
    oracle=_sql_fng("documents", n=3, k=50),
    tags=("text", "agg"),
)
def text_frequent_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 frequent trigram mining (boilerplate / stop-
    phrase list construction): one explode + one ngram-keyed aggregate
    computing occurrences and document frequency together, top-k with a
    total tie-break."""
    from ..operators.textstats import frequent_ngrams

    docs = load_table(spark, sf_dir, "documents")
    return frequent_ngrams(docs, n=3, k=50)


from ..operators.dedup import sql_cdc_duplicate_chunks as _sql_cdc  # noqa: E402


@register(
    "dedup_cdc_chunks",
    oracle=_sql_cdc("documents", k=50),
    tags=("dedup",),
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (Rabin/LBFS at token granularity):
    md5-boundary chunks (mean 16 tokens, insertion-robust — a leading
    edit resynchronizes within one chunk, unlike fixed windows), then
    corpus-wide duplicated-chunk mining.  One doc_id shuffle (window +
    reassembly share the partitioning) + one chunk-key shuffle."""
    from ..operators.dedup import cdc_duplicate_chunks

    docs = load_table(spark, sf_dir, "documents")
    return cdc_duplicate_chunks(docs, "doc_id", "text", k=50)


from ..operators.textstats import sql_boilerplate_share as _sql_bshare  # noqa: E402


@register(
    "text_boilerplate_share",
    oracle=_sql_bshare("documents", n=3, top_k=50) + " ORDER BY doc_id",
    tags=("text", "quality"),
)
def text_boilerplate_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate share: fraction of the doc's trigrams
    that fall in the corpus top-50 duplicated-trigram list — the
    duplicated-n-gram quality signal curation pipelines threshold on.
    Top list aggregated once and broadcast; per-doc work is one explode
    + broadcast left join + doc_id groupBy."""
    from ..operators.textstats import boilerplate_share

    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_share(docs, n=3, top_k=50).orderBy("doc_id")


@register(
    "dedup_streaming_cdc",
    oracle=_sql_cdc("documents", k=50),
    tags=("dedup", "streaming", "text"),
)
def dedup_streaming_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous CDC duplicate-chunk mining: 3 ascending doc_id-range
    micro-batches, each chunking only its own docs and merging chunk
    stats into the accumulated index (doc-disjoint batches make both
    occurrence and distinct-doc counts exactly additive).  The oracle
    is the GLOBAL cdc_duplicate_chunks pass — streaming replay equals
    the batch pass bit-for-bit."""
    from ..streaming.dedup_stream import streaming_cdc_dedup

    return streaming_cdc_dedup(spark, sf_dir, k=50, arrival_batches=3)


@register(
    "dedup_recall_minhash",
    oracle=f"""
    WITH lsh AS ({sql_minhash_near_dup("documents", "doc_id", "text", n=3, threshold=0.3)}),
    exact AS ({sql_jaccard_pairs("documents", "doc_id", "text", n=3, threshold=0.3)})
    SELECT CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh_pairs,
           CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact_pairs,
           CAST((SELECT count(*) FROM lsh) AS DOUBLE)
             / CAST((SELECT count(*) FROM exact) AS DOUBLE) AS recall
    """,
    tags=("dedup", "quality"),
)
def dedup_recall_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup QUALITY as a first-class measured operator (the
    ann_recall precedent applied to MinHash-LSH): pair recall of the
    banded-LSH-then-verify pipeline against the exhaustive exact
    Jaccard join at the same threshold.  LSH can only MISS pairs (a
    verified candidate is exact), so recall = |lsh| / |exact| — the
    banding miss rate (1-(1-t^r)^b) made observable.  In production
    this is the continuous index-health probe next to the dedup path;
    both sides replay in the oracle, so the measured recall is pinned,
    not asserted.

    PROBE PATTERN (intentional exception): this is the one registered
    query whose result frame is constructed driver-side — the operator
    IS the two counted actions; the 3-scalar summary is the product.
    Every other registered query returns a lazy distributed plan."""
    from ..operators.dedup import jaccard_pairs_prefix, minhash_near_dup

    docs = load_table(spark, sf_dir, "documents")
    n_lsh = minhash_near_dup(docs, "doc_id", "text", n=3, threshold=0.3).count()
    n_exact = jaccard_pairs_prefix(docs, "doc_id", "text", n=3, threshold=0.3).count()
    # Degenerate corpus (no exact near-dup pairs at the threshold):
    # recall is undefined — emit NULL rather than raise (r5 ADVICE).
    # Out-of-contract vs the oracle's 0/0 division, which never runs
    # at the gate SFs (the corpus seeds near-duplicates by design).
    recall = float(n_lsh) / float(n_exact) if n_exact else None
    return spark.createDataFrame(
        [(n_lsh, n_exact, recall)],
        "n_lsh_pairs long, n_exact_pairs long, recall double",
    )


@register(
    "ann_cosine_ivf_filtered",
    oracle=sql_ivf_kmeans(
        "embeddings", 7, k=10, n_centroids=8, n_probe=2, iters=2, dim=64,
        where_sql="tt.label = 1",
    ),
    tags=("similarity",),
)
def ann_cosine_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN — the RAG shape: ``WHERE label = 1 AND cosine
    top-k``.  The predicate restricts CANDIDATES and is applied before
    centroid assignment (Catalyst pushes it into the parquet scan);
    the codebook and probe selection are the shared INDEX and stay
    unfiltered, so the same trained centroids serve every predicate.
    The oracle replays training + probe + the filtered scoring
    bit-for-bit (same corpus_key ⇒ the codebook is literally the one
    `ann_cosine_ivf` trained)."""
    from ..operators.similarity import cosine_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_ivf(
        emb, 7, k=10, n_centroids=8, n_probe=2, kmeans_iters=2,
        corpus_key=sf_dir, where=F.col("label") == 1,
    )


from ..operators.similarity import sql_cosine as _sql_cos  # noqa: E402


@register(
    "ann_recall_ivf_filtered",
    oracle=f"""
    WITH approx AS ({sql_ivf_kmeans(
        "embeddings", 7, k=10, n_centroids=8, n_probe=2, iters=2, dim=64,
        where_sql="tt.label = 1",
    )}),
    exact AS (
      SELECT e2.vec_id
      FROM embeddings e2,
           (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7) qq
      WHERE e2.label = 1 AND e2.vec_id <> 7
      ORDER BY {_sql_cos('(e2.embedding::DOUBLE[])', 'qq.v')} DESC, e2.vec_id
      LIMIT 10
    )
    SELECT CAST(7 AS BIGINT) AS query_id,
           ROUND(count(*) / 10.0, 3) AS recall_at_10
    FROM approx JOIN exact ON approx.vec_id = exact.vec_id
    """,
    tags=("similarity", "quality"),
)
def ann_recall_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall accounting for FILTERED retrieval, pinned like
    `ann_recall_lsh_multiprobe`: recall@10 of the filtered IVF probe
    against the exact filtered brute force.  Filtering shrinks each
    probed list, so filtered recall is the number a RAG deployment
    must actually watch (a selective predicate can empty the probed
    lists long before the exact top-k runs out) — the oracle replays
    BOTH sides, so the number is measured, not asserted."""
    from ..operators.similarity import cosine_topk, cosine_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    flt = F.col("label") == 1
    approx = cosine_topk_ivf(
        emb, 7, k=10, n_centroids=8, n_probe=2, kmeans_iters=2,
        corpus_key=sf_dir, where=flt,
    )
    exact = cosine_topk(emb, 7, k=10, where=flt)
    return (
        approx.select("vec_id")
        .join(exact.select("vec_id"), "vec_id")
        .agg(F.count(F.lit(1)).alias("_hits"))
        .select(
            F.lit(7).cast("long").alias("query_id"),
            F.round(F.col("_hits") / 10.0, 3).alias("recall_at_10"),
        )
    )


@register(
    "ann_ivf_incremental_certified",
    oracle=f"""
    WITH live AS (
      SELECT vec_id,
             CASE WHEN vec_id % 5 = 3 THEN list_reverse(embedding)
                  ELSE embedding END AS v
      FROM embeddings WHERE vec_id % 7 <> 0
      UNION ALL
      SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 11 = 0
    )
    SELECT e.vec_id, {sql_cosine('e.v', 'q.v')} AS cos_sim
    FROM live e, (SELECT v FROM live WHERE vec_id = 9) q
    WHERE e.vec_id <> 9
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    tags=("similarity", "warehouse", "scale"),
)
def ann_ivf_incremental_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF INDEX MAINTENANCE (`operators/ann_index.py`),
    certified inside the gate — the index-freshness-under-DML lever: at
    100 TB an ANN index cannot be rebuilt per commit, so assignments
    live as a keyed warehouse table refreshed from the CHANGE FEED
    (``read_changes(update_images=True)``): postimages/inserts are
    re-assigned and LWW-merged, deletes are DV-tombstoned out —
    O(changed rows) per refresh, never O(corpus).

    The gate seeds a `vectors` warehouse table from `embeddings`, full-
    builds the index, then drives three MIXED commits — a MOR MERGE
    delete arm (ids ≡0 mod 7), a MOR MERGE update arm reversing the
    vectors of ids ≡3 mod 5, and a fresh-insert merge (original vectors
    re-keyed +100000 for ids ≡0 mod 11) — and refreshes incrementally.
    RAISES unless the refresh ran in incremental mode with exactly the
    changed-row counts, and the maintained assignments are IDENTICAL
    (symmetric difference 0) to a full re-assignment of the live table.

    Returned rows: an ALL-LISTS probe over the maintained index (top-10
    for stored vector 9) — which must equal DuckDB's brute-force cosine
    over the post-DML corpus, replayed relationally in the oracle."""
    from ..operators.ann_index import (
        cosine_topk_ivf_index,
        ivf_index_assignments,
        ivf_index_refresh,
    )
    from ..operators.similarity import ivf_assign, kmeans_codebook
    from ..sources.warehouse import Warehouse
    from ._harness import scratch_root

    wh = Warehouse(spark, scratch_root(sf_dir, "bxg_annidx_scratch"))
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<float>").alias("embedding"),
        F.col("label").cast("int").alias("label"),
    )
    wh.merge_batch_incremental({"vectors": emb}, n_buckets=8)
    cb = kmeans_codebook(emb, n_centroids=8, iters=1)

    d0 = ivf_index_refresh(wh, "vectors", "corpus", cb)
    if d0["mode"] != "full":
        raise AssertionError(f"first refresh should be a full build: {d0}")

    # commit 1: MOR MERGE delete arm
    dele = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    d1 = wh.merge_into(
        "vectors", dele, when_matched_delete=True, when_not_matched_insert=False
    )
    # commit 2: MOR MERGE update arm — reversed vectors move lists
    updsrc = emb.filter(F.col("vec_id") % 5 == 3).select(
        "vec_id", F.reverse(F.col("embedding")).alias("embedding"), "label"
    )
    d2 = wh.merge_into(
        "vectors", updsrc, when_matched_update="all", when_not_matched_insert=False
    )
    # commit 3: fresh inserts re-keyed out of the id range
    ins = emb.filter(F.col("vec_id") % 11 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    wh.merge_batch_incremental({"vectors": ins}, batch_seq=2)

    d = ivf_index_refresh(wh, "vectors", "corpus", cb)
    if d["mode"] != "incremental":
        raise AssertionError(f"refresh should be incremental: {d}")
    if d["rows_removed"] != d1["rows_deleted"]:
        raise AssertionError(
            f"removed {d['rows_removed']} != deleted {d1['rows_deleted']}"
        )
    n_ins = ins.count()
    if d["rows_assigned"] != d2["rows_updated"] + n_ins:
        raise AssertionError(
            f"assigned {d['rows_assigned']} != updated {d2['rows_updated']} "
            f"+ inserted {n_ins}"
        )

    got = ivf_index_assignments(wh, "corpus")
    want = ivf_assign(wh.read("vectors"), cb).select("vec_id", "centroid_id")
    diff = got.exceptAll(want).unionAll(want.exceptAll(got)).count()
    if diff != 0:
        raise AssertionError(
            f"incremental assignments diverge from a full rebuild by {diff} rows"
        )

    q = wh.read("vectors").filter(F.col("vec_id") == 9).head()["embedding"]
    return cosine_topk_ivf_index(
        wh, "corpus", cb, q, k=10, n_probe=len(cb), exclude_id=9
    )
