"""Training-data-pipeline queries: dedup, similarity, text analysis.

These extend the reference's surface with the operators a 100 TB
LLM-data pipeline needs (BASELINE.json north star). Every entry carries
a DuckDB oracle. Directly SQL-expressible queries use the literal
translation; approximate/iterative operators (LSH banding, ANN indexes,
sketches, BPE, packing) register one of three derived-oracle shapes:
full SQL replication when the construction is deterministic and
portable (q43 simhash), exact-verified candidate sets whose result
equals the all-pairs SQL (q42 MinHash), or invariant audits — exact
SQL-derivable columns plus booleans the Spark plan proves in-query
(recall floors, error bounds, losslessness) and the oracle pins TRUE
(q45/q54/q66/q67/q70/q60/q62/q97/q106/q75/q99/q100/q104). Exact ground
truth is additionally property-tested in tests/test_datapipe.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import exact_duplicates, ngram_jaccard_pairs
from ..operators.similarity import cosine_topk_bruteforce, lsh_topk
from ..operators.textops import lang_scores, normalized, words
from ..sources.tables import load
from .registry import query

EMBED_DIM = 64


def _cos_sql(a: str, b: str) -> str:
    """Exact-cosine DuckDB fragment between two embedding expressions.

    The ONE fold-order-pinned formulation every embedding oracle shares
    (review r8: this used to be inlined at four+ sites, and the comments
    on each call it gate-load-bearing — a fix applied to one copy would
    silently diverge the others)."""
    return (
        f"""list_sum(list_transform(range(1, {EMBED_DIM + 1}),
                 i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, {EMBED_DIM + 1}),
                 i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, {EMBED_DIM + 1}),
                 i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))))"""
    )



@query(
    "q40_dedup_exact",
    oracle="""
    SELECT md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fingerprint,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_dups
    FROM documents GROUP BY 1
    """,
    doc="Exact dedup by normalized-content fingerprint (hash groupBy; one shuffle).",
)
def q40_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(load(spark, sf_dir, "documents"))


@query(
    "q41_ngram_jaccard_pairs",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) t
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.5
    """,
    doc="Exact word-3-gram Jaccard near-dup pairs via inverted shingle index.",
)
def q41_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.5, k=3)


from .registry import REGISTRY as _R0  # noqa: E402  (q41 just registered)

_Q41_ORACLE = _R0["q41_ngram_jaccard_pairs"].oracle


@query(
    "q42_minhash_lsh_pairs",
    # The verified-pair formulation IS oracle-checkable: banded LSH only
    # *generates* candidates; exact-Jaccard verification makes the output
    # equal the all-pairs result whenever banding recall is 1 (near-dup
    # corpora sit on the flat top of the S-curve), so q41's SQL is the
    # oracle verbatim and the driver asserts the equality per-SF.
    # Known boundary: a pair with exact Jaccard just above 0.5 collides
    # in some band with prob 1-(1-j^4)^16 (~64% at j=0.5) — equality is
    # guaranteed by the FIXTURE's pair distribution (deterministic
    # seed=42 near-dups at j>~0.8, where recall is 1-3e-8), not by
    # construction. If a future fixture seeds borderline pairs, switch
    # the oracle to the recall-floor derived property instead.
    oracle=_Q41_ORACLE,
    doc="MinHash(64) + 16-band LSH candidates, exact-Jaccard-verified >= 0.5 "
    "(operators/dedup.py::minhash_lsh_verified_pairs). The signature-"
    "estimate variant stays available as minhash_lsh_pairs.",
)
def q42_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_verified_pairs

    return minhash_lsh_verified_pairs(
        load(spark, sf_dir, "documents"), num_hashes=64, bands=16, threshold=0.5
    )


@query(
    "q43_simhash_pairs",
    # Full-replication oracle: the portable simhash (md5-derived 60-bit
    # token hash) makes the signature, the banding, and the verify all
    # deterministic functions of the text, so DuckDB replays the entire
    # pipeline and must produce the identical pair set — including the
    # probabilistic-recall candidates beyond the pigeonhole radius.
    oracle="""
    WITH tok AS (
      SELECT doc_id, t FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
      ) WHERE t <> ''
    ),
    h AS (
      SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS th FROM tok
    ),
    votes AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (th >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS j) js
      GROUP BY 1, 2
    ),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY 1
    ),
    banded AS (
      SELECT doc_id, simhash, band, (simhash >> CAST(band * 10 AS INT)) & 1023 AS band_key
      FROM sig CROSS JOIN (SELECT unnest(range(0, 6)) AS band) bs
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 8
    """,
    doc="Portable 60-bit SimHash banded near-dup pairs, Hamming <= 8 "
    "(6 bands × 10 bits → lossless to Hamming 5 by pigeonhole; "
    "operators/dedup.py::simhash_pairs_portable, fully JVM-side; the "
    "oracle replays signatures, banding and verify).",
)
def q43_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_pairs_portable

    return simhash_pairs_portable(load(spark, sf_dir, "documents"), max_hamming=8, n_bands=6)


@query(
    "q44_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             {_cos_sql('qv', 'cv')} AS cos_sim
      FROM c, q WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
      FROM scored
    ) t WHERE rank <= 10
    """,
    doc="Brute-force cosine top-10 for 5 probe vectors; broadcast probes, corpus streams.",
)
def q44_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_bruteforce(emb, queries, k=10)


# Shared derived-property oracle for the ANN family (q45/q54/q66/q67/
# q70): index internals aren't SQL-expressible, but the contract —
# every probe returns k results whose recall vs the exact top-k clears
# the documented floor — is. The Spark side computes recall by joining
# the ANN result against the in-plan brute-force exact top-k
# (operators/similarity.py::ann_recall_audit); the oracle pins the
# expectation. A starved bucket (n_results < 10) or an index regression
# (recall_ok = false) fails the driver hash.
_ANN_AUDIT_ORACLE = """
SELECT vec_id AS query_id,
       CAST(10 AS BIGINT) AS n_results,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5
"""


def _ann_audit(spark: SparkSession, sf_dir: str, ann_fn, min_recall: float) -> DataFrame:
    from ..operators.similarity import ann_recall_audit

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ann = ann_fn(emb, queries)
    exact = cosine_topk_bruteforce(emb, queries, k=10)
    return ann_recall_audit(ann, exact, min_recall)


@query(
    "q45_ann_lsh_topk",
    oracle=_ANN_AUDIT_ORACLE,
    doc="Sign-LSH banded ANN top-10 (16 bands × 3 bits — tuned for the weak-neighbor "
    "synthetic embeddings, recall ≥0.96 at every SF; tighter corpora → more bits/fewer "
    "bands), audited per-query against exact top-10 (recall floor 0.9).",
)
def q45_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_audit(
        spark,
        sf_dir,
        lambda emb, q: lsh_topk(emb, q, dim=EMBED_DIM, k=10, n_bits=3, n_bands=16),
        min_recall=0.9,
    )


@query(
    "q46_text_quality",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS distinct_words,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')) AS ttr,
           CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
             / len(string_split(text, ' ')) AS avg_word_len,
           CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) >= 0.5 THEN 'high'
                WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) >= 0.3 THEN 'medium'
                ELSE 'low' END AS quality
    FROM documents
    """,
    doc="Per-doc quality features: token count, type-token ratio, avg word length, bucket.",
)
def q46_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = words(F.col("text"))
    n = F.size(w).cast("bigint")
    dw = F.size(F.array_distinct(w)).cast("bigint")
    ttr = dw.cast("double") / n
    awl = (F.length("text") - (n - 1)).cast("double") / n
    quality = F.when(ttr >= 0.5, "high").when(ttr >= 0.3, "medium").otherwise("low")
    return d.select(
        "doc_id",
        n.alias("n_words"),
        dw.alias("distinct_words"),
        ttr.alias("ttr"),
        awl.alias("avg_word_len"),
        quality.alias("quality"),
    )


@query(
    "q47_token_stats",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+'))) AS BIGINT) AS total_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_words,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
    doc="Corpus token accounting per source (regex tokenizer, JVM-side).",
)
def q47_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import regex_tokens

    d = load(spark, sf_dir, "documents")
    regex_toks = F.size(regex_tokens(F.col("text")))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(regex_toks).cast("bigint").alias("total_tokens"),
        F.sum(F.size(words(F.col("text")))).cast("bigint").alias("total_words"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
    )


@query(
    "q48_lang_id",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
        (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5.0
      + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ''))) / 5.0
      + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' of ', ''))) / 4.0 AS s_en,
        (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' el ', ''))) / 4.0
      + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' la ', ''))) / 4.0
      + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' de ', ''))) / 4.0 AS s_es,
        (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' der ', ''))) / 5.0
      + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' und ', ''))) / 5.0
      + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' die ', ''))) / 5.0 AS s_de,
        (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' le ', ''))) / 4.0
      + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' et ', ''))) / 4.0
      + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' les ', ''))) / 5.0 AS s_fr
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN s_en + s_es + s_de + s_fr = 0 THEN 'unknown'
                WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS predicted_lang
    FROM scored
    """,
    doc="Heuristic n-gram/stopword language ID with deterministic argmax tie-break.",
)
def q48_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    s = lang_scores(F.col("text"))
    total = s["en"] + s["es"] + s["de"] + s["fr"]
    pred = (
        F.when(total == 0, "unknown")
        .when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), "en")
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), "es")
        .when(s["de"] >= s["fr"], "de")
        .otherwise("fr")
    )
    return d.select("doc_id", "lang", pred.alias("predicted_lang"))


@query(
    "q49_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fingerprint,
           substr(md5(text), 1, 8) AS content_key,
           CAST(strlen(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
    doc="Per-doc content fingerprint + byte accounting (multimodal binary plumbing twin).",
)
def q49_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(normalized(F.col("text"))).alias("fingerprint"),
        F.substring(F.md5(F.col("text")), 1, 8).alias("content_key"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
    )


@query(
    "q53_embedding_near_dup",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, embedding FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_cos_sql('a.embedding', 'b.embedding')} AS cos_sim
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.5
    """,
    doc="Embedding-cosine near-dup pairs within label blocks (blocking keeps the "
    "pair space linear per block; the unblocked scale path is q42/q45 LSH).",
)
def q53_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _dot, _norm

    v = load(spark, sf_dir, "embeddings")
    a = v.select(
        F.col("label"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("__va"),
        _norm(F.col("embedding")).alias("__na"),
    )
    b = v.select(
        F.col("label"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("__vb"),
        _norm(F.col("embedding")).alias("__nb"),
    )
    pairs = a.join(b, ["label"]).filter(F.col("vec_a") < F.col("vec_b"))
    # per-side norms attached once per row (r11): the per-pair
    # expression paid three interpreted O(dim) folds; now one (the dot)
    cos = _dot(F.col("__va"), F.col("__vb")) / (
        F.col("__na") * F.col("__nb")
    )
    return (
        pairs.withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= 0.5)
        .select("vec_a", "vec_b", "cos_sim")
    )


@query(
    "q54_ann_ivf_topk",
    oracle=_ANN_AUDIT_ORACLE,
    doc="IVF ANN top-10: 16-cell coarse quantizer (2 Lloyd iterations), "
    "n_probe=8 → recall ≈0.96 vs brute force; cells map to physical "
    "partitions at scale. Audited per-query vs exact top-10 (floor 0.8).",
)
def q54_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    return _ann_audit(
        spark,
        sf_dir,
        lambda emb, q: ivf_topk(emb, q, dim=EMBED_DIM, k=10, n_centroids=16, n_probe=8),
        min_recall=0.8,
    )


@query(
    "q55_top_terms",
    oracle="""
    SELECT lang, word, n, rnk FROM (
      SELECT lang, word, n,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, word) AS INT) AS rnk
      FROM (
        SELECT lang, word, COUNT(*) AS n
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents) u
        GROUP BY 1, 2
      ) c
    ) r WHERE rnk <= 10
    """,
    doc="Top-10 terms per language: explode tokens → grouped count → "
    "per-group top-k with deterministic tie-break (vocabulary/term-freq "
    "analysis for corpus curation).",
)
def q55_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(words(F.col("text"))).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("word").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 10)
        .select("lang", "word", "n", "rnk")
    )


# Shared by q61 (exact-pair audit feed) and q130 (production MinHash
# feed): the cluster assignment is the transitive closure over the
# near-dup pair set, and the two feeds produce the SAME pair set on the
# fixture corpus (the q42-vs-q41 equality the driver asserts per-SF:
# banding recall is ~1 at the fixture's j>=0.8 pair distribution, and
# the verify step restores exact precision), so one recursive-CTE
# closure over the exact pairs is ground truth for both.
_CLUSTERS_ORACLE = """
    WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) t
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
    )
    SELECT u AS doc_id,
           least(u, MIN(v)) AS cluster_id,
           u = least(u, MIN(v)) AS keep
    FROM reach GROUP BY u
    """


@query(
    "q61_dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    doc="Duplicate-cluster assignment: connected components (large-star/"
    "small-star, operators/components.py) over the exact Jaccard pairs "
    "of q41 — the transitive-closure step that turns near-dup PAIRS "
    "into keep/drop decisions. The oracle computes the same closure "
    "with a recursive CTE (fine at gate scale; the Spark side is the "
    "O(log n)-round 100 TB path, and at that scale it consumes q42's "
    "MinHash pairs instead).",
)
def q61_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import dedup_clusters

    pairs = ngram_jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.5, k=3)
    return dedup_clusters(pairs)


@query(
    "q130_dedup_clusters_minhash",
    oracle=_CLUSTERS_ORACLE,
    doc="The PRODUCTION dedup-clustering composition (round-7 verdict "
    "ranked task 1): connected components over MinHash-LSH-verified "
    "pairs — dedup_clusters(minhash_lsh_verified_pairs(...)). q61 keeps "
    "the exact-Jaccard feed as the quality audit baseline; THIS is the "
    "100 TB shape, because candidate generation is bucket-bounded "
    "(O(candidates) verify) instead of the exact feed's shared-shingle "
    "quadratic join — the only operator whose 100x wall was dominated "
    "by a quality-baseline stage (~138s of q61's ~112-153s at 500k "
    "docs). The oracle is the same recursive-CTE closure over exact "
    "pairs: the two feeds agree on the fixture pair set (the q42-vs-q41 "
    "equality the gate already asserts per-SF), so clusters agree too.",
)
def q130_dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import dedup_clusters
    from ..operators.dedup import minhash_lsh_verified_pairs

    pairs = minhash_lsh_verified_pairs(
        load(spark, sf_dir, "documents"), num_hashes=64, bands=16, threshold=0.5
    )
    return dedup_clusters(pairs)


@query(
    "q132_curation_delta",
    # Oracle replays the delta semantics with EXACT Jaccard for both
    # pair kinds. The operator's cross-store pairs are signature
    # ESTIMATES (the store's text is gone by design); the est-cut and
    # banding coincide with the exact >= 0.5 pair set on the fixture's
    # separated similarity distribution (the q42 S-curve argument —
    # true pairs sit at j >= ~0.8 where 64-hash agreement < 32/64 is
    # astronomically unlikely AND deterministic for the fixed hash
    # family), so the gate pins the equality per-SF exactly as it does
    # for q42. Store connectivity via the -1 sentinel node mirrors the
    # Spark side: least(u, MIN(v)) = -1 for any store-connected
    # component, so every delta member drops.
    oracle="""
    WITH RECURSIVE
    delta AS (SELECT doc_id, text, source FROM documents WHERE doc_id % 4 = 0),
    store AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
    seen AS (
      SELECT DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
      FROM store
    ),
    dx AS (
      SELECT doc_id, text, source,
             md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp,
             ROW_NUMBER() OVER (
               PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))
               ORDER BY doc_id
             ) AS rn
      FROM delta
    ),
    dx2 AS (
      SELECT dx.*, COALESCE(fp IN (SELECT fp FROM seen), FALSE) AS seen_fp FROM dx
    ),
    s1 AS (SELECT doc_id, text FROM dx2 WHERE rn = 1 AND NOT seen_fp),
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM s1),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) t
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    bpairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.5
    ),
    stoks AS (SELECT doc_id, string_split(text, ' ') AS w FROM store),
    ssh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM stoks, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) t
    ),
    ssizes AS (SELECT doc_id, COUNT(*) AS set_size FROM ssh GROUP BY 1),
    xinter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_common
      FROM sh a JOIN ssh b ON a.shingle = b.shingle
      GROUP BY 1, 2
    ),
    xpairs AS (
      SELECT DISTINCT da FROM xinter
      JOIN sizes sa ON sa.doc_id = da
      JOIN ssizes sb ON sb.doc_id = db
      WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM bpairs
      UNION SELECT doc_b, doc_a FROM bpairs
      UNION SELECT da, CAST(-1 AS BIGINT) FROM xpairs
      UNION SELECT CAST(-1 AS BIGINT), da FROM xpairs
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
    ),
    drops2 AS (
      SELECT u AS doc_id FROM reach WHERE u <> -1
      GROUP BY u HAVING u <> least(u, MIN(v))
    ),
    staged AS (
      SELECT d.doc_id, d.source,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
             d.fp AS fingerprint,
             CASE WHEN d.rn > 1 OR d.seen_fp THEN 'exact_dup'
                  WHEN dr.doc_id IS NOT NULL THEN 'near_dup'
                  WHEN d.text IS NULL
                       OR CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
                          / len(string_split(d.text, ' ')) < 0.3 THEN 'low_quality'
                  ELSE 'kept' END AS stage
      FROM dx2 d LEFT JOIN drops2 dr USING (doc_id)
    )
    SELECT doc_id, source, n_words, fingerprint, stage FROM staged
    """,
    doc="Incremental curation: a fresh batch (doc_id % 4 = 0) curated "
    "against the already-curated store (the rest) through the store's "
    "BOUNDED state only — fingerprint set + MinHash signature table; "
    "corpus text is never re-read, per-batch cost O(batch + "
    "collisions). Per-doc verdicts with the batch form's sequential "
    "attribution; store connectivity decided by one connected-"
    "components pass with store hits as edges to a sentinel keeper "
    "(operators/curation.py::curation_delta).",
)
def q132_curation_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import curation_delta
    from ..operators.dedup import exact_duplicates, minhash_signatures

    docs = load(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    store = docs.filter(F.col("doc_id") % 4 != 0)
    return curation_delta(
        delta.select("doc_id", "text", "source"),
        seen_fingerprints=exact_duplicates(store).select(
            F.col("fingerprint")
        ),
        corpus_sigs=minhash_signatures(store, num_hashes=64, k=3),
        min_ttr=0.3, num_hashes=64, bands=16, threshold=0.5,
    )


_COS_AB = _cos_sql("a.embedding", "b.embedding")


@query(
    "q133_semantic_delta",
    # Same exact-cosine formulation as q53/q102 (fold order fixed in
    # both engines — gate-pinned there), same sentinel-closure shape as
    # q132: a delta vector drops iff connected, through same-label batch
    # pairs and/or store hits at >= 0.45 (the fixture's planted
    # same-label similarity sits just under q53's 0.5 — 0.45 makes the
    # drop path REAL on the fixture instead of vacuously all-kept), to
    # stored content or a smaller-id batch survivor.
    oracle=f"""
    WITH RECURSIVE
    d AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 4 = 0),
    s AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 4 <> 0),
    xs AS (
      SELECT a.vec_id, MAX({_COS_AB}) AS max_store_sim
      FROM d a JOIN s b ON a.label = b.label
      GROUP BY 1
    ),
    bpairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM d a JOIN d b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_COS_AB} >= 0.45
    ),
    edges AS (
      SELECT va AS u, vb AS v FROM bpairs
      UNION SELECT vb, va FROM bpairs
      UNION SELECT vec_id, CAST(-1 AS BIGINT) FROM xs WHERE max_store_sim >= 0.45
      UNION SELECT CAST(-1 AS BIGINT), vec_id FROM xs WHERE max_store_sim >= 0.45
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
    ),
    drops AS (
      SELECT u AS vec_id FROM reach WHERE u <> -1
      GROUP BY u HAVING u <> least(u, MIN(v))
    )
    SELECT d.vec_id, xs.max_store_sim,
           CASE WHEN dr.vec_id IS NOT NULL THEN 'semantic_dup' ELSE 'kept' END AS stage
    FROM d LEFT JOIN xs ON xs.vec_id = d.vec_id
    LEFT JOIN drops dr ON dr.vec_id = d.vec_id
    """,
    doc="Semantic incremental dedup (operators/curation.py::"
    "semantic_delta) — the embedding-space member of the delta family "
    "(exact = q72 fingerprints, lexical = minhash_delta_pairs, semantic "
    "= this): a fresh vector batch (vec_id % 4 = 0) curated against the "
    "stored embedding table, label-blocked (q53's choice), with store "
    "connectivity decided by the q132 sentinel-component pass. The "
    "delta broadcasts and the store streams — linear in store size; "
    "LSH/IVF prefilter + exact rerank is the escalation path when "
    "either side outgrows that (q45/q54).",
)
def q133_semantic_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import semantic_delta

    emb = load(spark, sf_dir, "embeddings")
    return semantic_delta(
        emb.filter(F.col("vec_id") % 4 == 0),
        emb.filter(F.col("vec_id") % 4 != 0),
        threshold=0.45,
        block_col="label",
    )


_Q155_ORACLE = f"""
    WITH s AS (SELECT vec_id, embedding FROM embeddings),
    d AS (
      SELECT vec_id + 10000 AS vec_id, embedding
      FROM embeddings WHERE vec_id % 5 = 0
      UNION ALL
      SELECT vec_id + 20000 AS vec_id,
             list_transform(embedding, x -> -x) AS embedding
      FROM embeddings WHERE vec_id % 5 = 1
    ),
    hits AS (
      SELECT a.vec_id
      FROM d a JOIN s b ON {_cos_sql("a.embedding", "b.embedding")} >= 0.9
      GROUP BY 1
    )
    SELECT d.vec_id,
           CASE WHEN h.vec_id IS NOT NULL THEN 'semantic_dup'
                ELSE 'kept' END AS stage
    FROM d LEFT JOIN hits h ON h.vec_id = d.vec_id
    """


@query(
    "q155_semantic_delta_lsh",
    # Oracle strategy: the EXACT form's stage derivation, on a fixture
    # where the LSH prefilter's recall at the threshold is PROVABLY
    # 1.0 — so the prefiltered operator must agree with the exact SQL.
    # Fixture: delta = bit-identical COPIES of every 5th store vector
    # (cosine exactly 1.0; identical vectors produce identical sign
    # signatures in EVERY band, so they are candidates for any
    # hyperplane draw) + NEGATIONS of every 5th+1 store vector (cosine
    # -1 vs their source, and |cos| <= 0.52 vs everything else — the
    # fixture's measured global max non-identical cosine at sf0.01 is
    # 0.513). At threshold 0.9 the >= -threshold pair set is exactly
    # the identical pairs: the within-batch pair set is provably EMPTY
    # (store vectors are pairwise non-identical, so two delta rows
    # never coincide) and the sentinel-component pass degenerates to
    # the store-hit test the oracle runs below. max_store_sim is
    # candidate-dependent under a prefilter (chance sub-threshold
    # collisions), so the registered form projects (vec_id, stage) —
    # the stage labels are the candidate-ROBUST contract.
    oracle=_Q155_ORACLE,
    doc="semantic_delta under prefilter='lsh' — the escalation path the "
    "unblocked cap advertises (r9 verdict ranked task 6, now real): "
    "candidate pairs restricted to shared sign-LSH band buckets "
    "(q45's banding, vector-carrying form), then reranked with the "
    "EXACT cosine; the quadratic stages never schedule. The fixture "
    "makes recall provably 1.0 (every >= 0.9 pair is bit-identical, "
    "and identical vectors collide in every band by construction), so "
    "the oracle can pin the prefiltered stages equal to the exact "
    "form's. operators/curation.py::semantic_delta(prefilter='lsh').",
)
def q155_semantic_delta_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import semantic_delta

    delta, store = _q155_fixture(spark, sf_dir)
    out = semantic_delta(
        delta,
        store,
        threshold=0.9,
        prefilter="lsh",
        dim=EMBED_DIM,
    )
    return out.select("vec_id", "stage")


def _q155_fixture(spark: SparkSession, sf_dir: str):
    """The provable-recall delta fixture shared by q155/q157: exact
    copies (always candidates under any bucketing of identical
    vectors) + negations (below every threshold vs everything)."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    flips = emb.filter(F.col("vec_id") % 5 == 1).select(
        (F.col("vec_id") + 20_000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: -x).alias("embedding"),
    )
    return copies.unionByName(flips), emb


@query(
    "q157_semantic_delta_ivf",
    # SAME oracle as q155 (the q149/q143 and q154/q150 equivalence
    # pattern applied to the prefilter pair): identical vectors assign
    # to the same coarse cell for ANY centroid draw (argmax over
    # identical projections), and the delta side multi-probes 2 cells,
    # so exact-duplicate recall is structurally 1.0 — the exact form's
    # SQL pins the IVF-prefiltered stages on the same fixture. The
    # Lloyd means' float summation order can vary run-to-run, which
    # moves only sub-threshold CANDIDATE sets, never the stage labels
    # this row projects.
    oracle=_Q155_ORACLE,
    doc="semantic_delta under prefilter='ivf' — q155's coarse-quantizer "
    "twin: candidates restricted to shared IVF cells (centroids "
    "trained on the store with the q54 deterministic-seed k-means, "
    "multi-probe on the delta side), exact-cosine rerank. One oracle "
    "pins both prefilter engines equal to the exact form. "
    "operators/curation.py::semantic_delta(prefilter='ivf').",
)
def q157_semantic_delta_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import semantic_delta

    delta, store = _q155_fixture(spark, sf_dir)
    out = semantic_delta(
        delta,
        store,
        threshold=0.9,
        prefilter="ivf",
        dim=EMBED_DIM,
        ivf_centroids=16,
        ivf_probe=2,
    )
    return out.select("vec_id", "stage")


@query(
    "q159_prefilter_recall_audit",
    # Oracle strategy (the q139 derived-property pattern, applied to
    # the prefilter pair per the r10 verdict's ranked task 4): the
    # exact form's positive count is SQL-derivable; the prefilters'
    # measured recall depends on index internals (hyperplane draws,
    # Lloyd means) that no SQL can recompute, so the cross-engine
    # contract is the audit's BOOLEANS — subset_ok (structural: the
    # prefiltered positives are a subset of the exact positives, FALSE
    # = implementation bug) and recall_ok (measured recall >= the
    # row's floor) — which the oracle pins TRUE.
    #
    # Fixture: NON-identical near-duplicates at an ORGANIC threshold —
    # every 5th store vector with its first 12 of 64 coordinates
    # zeroed (pure slice/concat, no float arithmetic, so the fixture
    # is bit-identical cross-engine). Measured at sf0.01: source
    # cosines span 0.79-0.98 (avg 0.90) — genuinely non-identical, so
    # unlike q155/q157 recall is NOT structurally 1.0; the nearest
    # pair sits 0.087 from the 0.7 threshold (no float-flip risk);
    # the within-batch pair max is 0.47 (0.54 at sf0.1), so the
    # sentinel-component pass degenerates to the store-hit test the
    # oracle derives below.
    oracle=f"""
    WITH d AS (
      SELECT vec_id + 10000 AS vec_id,
             list_transform(range(1, {EMBED_DIM + 1}),
               i -> CASE WHEN i <= 12 THEN CAST(0.0 AS FLOAT)
                         ELSE embedding[i] END) AS embedding
      FROM embeddings WHERE vec_id % 5 = 0
    ),
    hits AS (
      SELECT a.vec_id
      FROM d a JOIN embeddings b
        ON {_cos_sql("a.embedding", "b.embedding")} >= 0.7
      GROUP BY 1
    ),
    agg AS (
      SELECT (SELECT COUNT(*) FROM d) AS n_delta,
             (SELECT COUNT(*) FROM hits) AS n_exact_dup
    )
    SELECT 'ivf' AS prefilter, n_delta, n_exact_dup,
           TRUE AS subset_ok, TRUE AS recall_ok FROM agg
    UNION ALL
    SELECT 'lsh' AS prefilter, n_delta, n_exact_dup,
           TRUE AS subset_ok, TRUE AS recall_ok FROM agg
    """,
    doc="Prefilter recall audit at an organic threshold "
    "(operators/curation.py::semantic_delta_recall_audit) — the "
    "measurement a production caller needs before trusting "
    "prefiltered semantic_delta stage labels at 0.7, where recall is "
    "genuinely < 1 (r10 verdict ranked task 4): both escalation paths "
    "(LSH banding at the audit-tuned 5 bits x 8 bands, IVF 16 cells "
    "x 2 probes) against the exact form on a perturbed-copy fixture. "
    "Measured recall: LSH 1.0000 at sf0.01 / 0.9875 at sf0.1, IVF "
    "0.9200 / 0.8950 — floors 0.9 / 0.8 sit under those with margin. "
    "The audit itself runs the exact quadratic form — a bounded "
    "offline job, which is the point: measure once, then trust the "
    "prefilter at scale.",
)
def q159_prefilter_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import semantic_delta, semantic_delta_recall_audit

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    delta = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.concat(
            F.array(*[F.lit(0.0).cast("float")] * 12),
            F.slice(F.col("embedding"), 13, EMBED_DIM - 12),
        ).alias("embedding"),
    )
    # r12: ONE exact quadratic run shared by both audits (it dominates
    # the query's cost and its result is identical for both) — the form
    # previously re-ran the |delta|² + |delta|·|store| comparison per
    # audited prefilter. Recall numbers are unchanged by construction.
    exact = semantic_delta(delta, emb, threshold=0.7)
    # floors sit under the measured values with deliberate margin:
    # LSH (5 bits x 8 bands) measured 1.0000 at sf0.01 / 0.9875 at
    # sf0.1 -> floor 0.9; IVF (16 cells, 2 probes) measured 0.9200 /
    # 0.8950 -> floor 0.8 (wider margin because the Lloyd means'
    # float-summation order can jitter cell boundaries run-to-run)
    ivf = semantic_delta_recall_audit(
        delta,
        emb,
        threshold=0.7,
        dim=EMBED_DIM,
        prefilter="ivf",
        min_recall=0.8,
        ivf_centroids=16,
        ivf_probe=2,
        exact=exact,
    )
    lsh = semantic_delta_recall_audit(
        delta,
        emb,
        threshold=0.7,
        dim=EMBED_DIM,
        prefilter="lsh",
        min_recall=0.9,
        lsh_bits=5,
        lsh_bands=8,
        exact=exact,
    )
    # the raw `recall` double is index-internal (not SQL-derivable) —
    # production callers read it off the operator; the driver surface
    # carries the derived-property booleans
    return ivf.unionByName(lsh).select(
        "prefilter", "n_delta", "n_exact_dup", "subset_ok", "recall_ok"
    )


@query(
    "q160_heavy_hitters",
    # EXACT oracle (no derived-property indirection needed): the
    # two-pass operator's output is deterministic by construction —
    # Misra-Gries candidates can never MISS a true phi-hitter
    # (under-count bounded by N/(k+1) < phi*N at k=ceil(1/phi); Misra &
    # Gries 1982, merge bound Agarwal et al. PODS 2012), and the
    # verify pass filters on exact re-counts — so the result equals a
    # plain GROUP BY ... HAVING, independent of partitioning. The
    # fixture's nearest item sits 28 counts from the 0.005*N boundary
    # at sf0.01 (286 at sf0.1): no float-flip risk.
    oracle="""
    WITH t AS (
      SELECT unnest(string_split(lower(text), ' ')) AS item FROM documents
    ),
    f AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM t WHERE item <> '' GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM t WHERE item <> '')
    SELECT item, n_occurrences,
           n_occurrences / (SELECT n FROM n) AS share
    FROM f WHERE n_occurrences >= 0.005 * (SELECT n FROM n)
    """,
    doc="Exact phi-heavy hitters over the corpus vocabulary "
    "(operators/sketches.py::heavy_hitters_exact) — two bounded "
    "passes: per-partition Misra-Gries candidate summaries (k "
    "counters per partition regardless of item cardinality; the one "
    "shuffle moves <= partitions x (k+1) rows) then an exact verify "
    "of the broadcast candidate list. The 100 TB contrast is with "
    "groupBy(item).count(): a token column's distinct set is "
    "billions of rows through the exchange; this never exchanges on "
    "the raw item. New mergeable-summary family member (round 11) "
    "beside HLL (q97), KLL (q106) and theta (q107).",
)
def q160_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import heavy_hitters_exact

    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.col("w") != "")
    return heavy_hitters_exact(words, "w", phi=0.005)


@query(
    "q161_bm25_topk",
    # FULL-derivation oracle: every stage of the scoring pipeline is
    # deterministic SQL — tokenization (the corpus convention), tf/dl/
    # df tables, the Lucene idf, and the per-term score whose
    # expression SHAPE is kept identical on both sides (same literal
    # association, so the doubles agree bit-for-bit; ln() parity has
    # the q76/q136 precedent). Per-term scores aggregate in
    # DECIMAL(28,12) — the functions/decimals.py policy — so the
    # (query, doc) sum is order-independent and exact in both engines,
    # and ranks cannot flap; ties break by doc_id in both.
    oracle="""
    WITH tok AS (
      SELECT doc_id, term FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
      ) WHERE term <> ''
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM tok GROUP BY 1, 2
    ),
    dl AS (
      SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY 1
    ),
    st AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(dl) AS sum_dl FROM dl
    ),
    idf AS (
      SELECT term,
             ln(CAST(1.0 AS DOUBLE)
                + ((SELECT n_docs FROM st) - df + CAST(0.5 AS DOUBLE))
                  / (df + CAST(0.5 AS DOUBLE))) AS idf
      FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
    ),
    qt AS (
      SELECT DISTINCT query_id, term FROM (
        SELECT doc_id AS query_id,
               unnest(string_split(lower(text), ' ')) AS term
        FROM documents WHERE doc_id % 97 = 0
      ) WHERE term <> ''
    ),
    con AS (
      SELECT q.query_id, t.doc_id,
             CAST(i.idf * (t.tf * CAST(2.2 AS DOUBLE))
                  / (t.tf + CAST(1.2 AS DOUBLE)
                     * (CAST(0.25 AS DOUBLE)
                        + CAST(0.75 AS DOUBLE) * d.dl
                          / (SELECT sum_dl / n_docs FROM st)))
                  AS DECIMAL(28,12)) AS s
      FROM tf t
      JOIN idf i USING (term)
      JOIN dl d USING (doc_id)
      JOIN qt q USING (term)
      WHERE t.doc_id <> q.query_id
    ),
    sc AS (
      SELECT query_id, doc_id, CAST(SUM(s) AS DOUBLE) AS score
      FROM con GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank FROM (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM sc
    ) WHERE rank <= 5
    """,
    doc="BM25 top-k retrieval (operators/ranking.py::bm25_topk) — "
    "query-anchored lexical ranking of the corpus, the exact-token "
    "complement of cosine_topk/ANN for targeted data selection and "
    "decontamination triage. Anchor queries = every 97th document; "
    "k=5, Lucene idf, k1=1.2 / b=0.75, self-matches excluded. "
    "Postings build is one (doc, term) exchange with map-side "
    "combine; the query-term side broadcasts; max_df_frac (unused "
    "here — the fixture vocabulary is 31 words) bounds stopword "
    "posting lists at real cardinalities. Scores sum in "
    "DECIMAL(28,12) so ranking is order-independent cross-engine.",
)
def q161_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import bm25_topk

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return bm25_topk(docs, queries, k=5)


@query(
    "q131_curation_pipeline",
    # End-to-end oracle: replays every stage in DuckDB — exact-dup
    # window, the q41 exact-pair graph + recursive closure over the
    # exact-dedup SURVIVORS, the q46 TTR quality gate — with the same
    # sequential drop attribution (a doc dropped by an earlier stage is
    # never re-attributed to a later one). The MinHash feed equals the
    # exact pair set on the fixture (the q42-vs-q41 gate equality), so
    # the near-dup stage agrees too.
    oracle="""
    WITH RECURSIVE
    base AS (
      SELECT doc_id, text, source,
             ROW_NUMBER() OVER (
               PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))
               ORDER BY doc_id
             ) AS rn
      FROM documents
    ),
    s1 AS (SELECT doc_id, text FROM base WHERE rn = 1),
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM s1),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) t
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
    ),
    drops2 AS (
      SELECT u AS doc_id FROM reach GROUP BY u HAVING u <> least(u, MIN(v))
    ),
    staged AS (
      SELECT b.source,
             len(string_split(b.text, ' ')) AS nw,
             CASE WHEN b.rn > 1 THEN 'exact_dup'
                  WHEN d2.doc_id IS NOT NULL THEN 'near_dup'
                  WHEN b.text IS NULL
                       OR CAST(len(list_distinct(string_split(b.text, ' '))) AS DOUBLE)
                          / len(string_split(b.text, ' ')) < 0.3 THEN 'low_quality'
                  ELSE 'kept' END AS stage
      FROM base b LEFT JOIN drops2 d2 USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_input,
           CAST(SUM(CASE WHEN stage = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dropped,
           CAST(SUM(CASE WHEN stage = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup_dropped,
           CAST(SUM(CASE WHEN stage = 'low_quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_dropped,
           CAST(SUM(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN stage = 'kept' THEN nw ELSE 0 END) AS BIGINT) AS kept_words
    FROM staged GROUP BY source
    """,
    doc="The full curation recipe a training-data pipeline actually runs, "
    "as ONE declarative plan: exact dedup (fingerprint groupBy, first "
    "writer wins) -> near-dup clustering over the survivors (MinHash-"
    "verified pairs -> connected components, the q130 production feed) "
    "-> TTR quality gate, with per-source drop attribution in stage "
    "order. Scale shape: corpus TEXT never crosses an exchange — the "
    "per-doc metrics (fingerprint, word count, TTR) are computed in-"
    "scan, the exact stage shuffles only (fingerprint, doc_id) pairs "
    "with a map-side-combined min, the pair graph moves shingle hashes "
    "only, and the drop lists join back by doc_id (duplicates-only id "
    "lists, so AQE converts these to broadcast joins at realistic dup "
    "rates; at pathological dup rates the SMJ fallback shuffles ids + "
    "text once, the honest floor). Plan-audited by "
    "tests/test_datapipe.py::test_curation_pipeline_no_text_shuffle.",
)
def q131_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import curation_report, curation_stages

    stages = curation_stages(
        load(spark, sf_dir, "documents"),
        min_ttr=0.3, num_hashes=64, bands=16, threshold=0.5,
    )
    return curation_report(stages)


@query(
    "q64_hash_split",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             CAST(((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                 + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS INT) AS bucket
      FROM documents
    ),
    s AS (
      SELECT doc_id, lang, bucket,
             CASE WHEN bucket < 205 THEN 'train'
                  WHEN bucket < 231 THEN 'val'
                  ELSE 'test' END AS split
      FROM b
    )
    SELECT split, lang, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
    FROM s GROUP BY 1, 2
    """,
    doc="Deterministic ~80/10/10 train/val/test split keyed on md5(doc_id) "
    "(operators/sampling.py): a pure scan-local expression — no shuffle, "
    "no stored assignment, stable as the corpus grows. Rolled up per "
    "(split, lang) for the gate; the per-doc assignment is the operator.",
)
def q64_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_split

    d = hash_split(load(spark, sf_dir, "documents"), "doc_id")
    return d.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "q65_curated_corpus",
    oracle="""
    WITH fp AS (
      SELECT doc_id, lang, text,
             md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fingerprint
      FROM documents
    ),
    k AS (
      SELECT *, doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint) AS keep FROM fp
    ),
    q AS (
      SELECT doc_id, lang, keep,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS ttr,
             CAST(((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                 + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS INT) AS bucket
      FROM k
    )
    SELECT CASE WHEN bucket < 205 THEN 'train' WHEN bucket < 231 THEN 'val' ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           MIN(doc_id) AS first_doc
    FROM q
    WHERE keep AND ttr >= 0.3
    GROUP BY 1, 2
    """,
    doc="End-to-end curation: exact-dedup representative × quality floor "
    "(type-token ratio >= 0.3) × deterministic split, rolled up per "
    "(split, lang) — the one-pass corpus-build query composing q40, q46 "
    "and q64's operators. One window over the fingerprint partitioning "
    "+ one rollup shuffle; everything else is scan-local.",
)
def q65_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.sampling import hash_split
    from ..operators.textops import fingerprint as fp_col

    d = load(spark, sf_dir, "documents")
    w = words(F.col("text"))
    n = F.size(w).cast("bigint")
    ttr = F.size(F.array_distinct(w)).cast("double") / n
    keep = F.col("doc_id") == F.min("doc_id").over(
        Window.partitionBy(fp_col(F.col("text")))
    )
    curated = hash_split(
        d.select("doc_id", "lang", n.alias("n_words"), ttr.alias("ttr"), keep.alias("keep")),
        "doc_id",
    ).filter(F.col("keep") & (F.col("ttr") >= 0.3))
    return curated.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.min("doc_id").alias("first_doc"),
    )


_Q8 = """
  list_transform({col}, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 /
    (CASE WHEN list_max(list_transform({col}, y -> abs(CAST(y AS DOUBLE)))) > 0
          THEN list_max(list_transform({col}, y -> abs(CAST(y AS DOUBLE))))
          ELSE 1.0 END)) AS TINYINT))
"""


@query(
    "q63_quantized_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, {_Q8.format(col='embedding')} AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    c AS (
      SELECT vec_id AS neighbor_id, {_Q8.format(col='embedding')} AS cv
      FROM embeddings
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             {_cos_sql('qv', 'cv')} AS cos_sim
      FROM c, q WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
      FROM scored
    ) t WHERE rank <= 10
    """,
    doc="q44 over the int8-quantized embedding store "
    "(operators/similarity.py::quantize_embeddings): 4x smaller scans "
    "for candidate rerank at 100 TB; cosine is scale-invariant so the "
    "per-vector scale never needs to be read. Fully oracle-checked — "
    "quantization is deterministic in both engines (round-half ties "
    "verified absent at gate scale; recall vs float asserted in tests).",
)
def q63_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk_quantized, quantize_embeddings

    emb = load(spark, sf_dir, "embeddings")
    corpus_q = quantize_embeddings(emb).select("vec_id", "embedding_q")
    queries_q = quantize_embeddings(
        emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    ).select("query_id", "embedding_q")
    return cosine_topk_quantized(corpus_q, queries_q, k=10)


@query(
    "q66_pq_topk",
    oracle=_ANN_AUDIT_ORACLE,
    doc="Product-quantized ANN top-10 (m=16 subspaces x 32 codes -> "
    "16-byte codes, 16x store compression) with ADC shortlist + exact "
    "rerank of ~50 candidates per query (FAISS refine pattern; "
    "operators/pq.py). The bulk scan reads codes only — at 100 TB "
    "compose with IVF cells for the standard IVF-PQ index. Audited "
    "per-query vs exact top-10 (floor 0.8).",
)
def q66_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_topk

    return _ann_audit(
        spark,
        sf_dir,
        lambda emb, q: pq_topk(emb, q, dim=EMBED_DIM, k=10, m=16, n_codes=32, refine_factor=10),
        min_recall=0.8,
    )


@query(
    "q67_ivfpq_topk",
    oracle=_ANN_AUDIT_ORACLE,
    doc="IVF-PQ ANN top-10: 16 coarse cells prune the scan (n_probe=8; "
    "the cell id is the physical partition key at scale), 16-byte PQ "
    "codes shrink what's scanned, exact rerank of the ADC shortlist "
    "restores precision — the standard FAISS IVFPQ+refine stack "
    "(operators/pq.py::ivfpq_topk). Audited per-query vs exact top-10 "
    "(floor 0.75).",
)
def q67_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import ivfpq_topk

    return _ann_audit(
        spark,
        sf_dir,
        lambda emb, q: ivfpq_topk(emb, q, dim=EMBED_DIM, k=10, refine_factor=10),
        min_recall=0.75,
    )


def _docs_as_media(docs: DataFrame) -> DataFrame:
    """Cast the documents table as a media table (payload = UTF-8 bytes).

    The container has no real image/audio files; deriving deterministic
    binary payloads from `documents` lets the multimodal plumbing
    (binary column + typed metadata, `operators/multimodal.py`) run
    oracle-checked on driver-provided data.
    """
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
    )


@query(
    "q56_media_metadata",
    oracle="""
    SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           COUNT(*) AS n_media,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT sha256(text)) AS n_distinct_payloads,
           MIN(sha256(text)) AS first_sha
    FROM documents GROUP BY 1
    """,
    doc="Per-kind media byte accounting, JVM-side only (octet_length + "
    "sha2 — the payload column is scanned once, nothing decodes). The "
    "dedup-by-content-hash rollup a 100 TB media lake runs before any "
    "GPU decode pass.",
)
def q56_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_byte_metadata

    m = attach_byte_metadata(_docs_as_media(load(spark, sf_dir, "documents")))
    return m.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        # bigint presentation: byte totals fit int64 up to ~9 EB; the
        # driver's pandas path collapses DECIMAL to float64 (hash drift).
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.countDistinct("content_key").alias("n_distinct_payloads"),
        F.min("content_key").alias("first_sha"),
    )


@query(
    "q57_media_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             sha256(text) AS content_sha256
      FROM documents
    ), b AS (
      SELECT *,
        (strpos('0123456789abcdef', substr(content_sha256, 1, 1)) - 1) * 16
          + strpos('0123456789abcdef', substr(content_sha256, 2, 1)) - 1 AS b0,
        (strpos('0123456789abcdef', substr(content_sha256, 3, 1)) - 1) * 16
          + strpos('0123456789abcdef', substr(content_sha256, 4, 1)) - 1 AS b1,
        (strpos('0123456789abcdef', substr(content_sha256, 5, 1)) - 1) * 16
          + strpos('0123456789abcdef', substr(content_sha256, 6, 1)) - 1 AS b2,
        (strpos('0123456789abcdef', substr(content_sha256, 7, 1)) - 1) * 16
          + strpos('0123456789abcdef', substr(content_sha256, 8, 1)) - 1 AS b3
      FROM m
    )
    SELECT media_id, kind, n_bytes, content_sha256,
      CAST(CASE WHEN kind = 'image' THEN 64 + b0 % 192 END AS INT) AS width,
      CAST(CASE WHEN kind = 'image' THEN 64 + b1 % 192 END AS INT) AS height,
      CAST(CASE WHEN kind IN ('audio','video') THEN b2 * 256 + b3 END AS BIGINT) AS duration_ms
    FROM b
    """,
    doc="Arrow-batched feature extraction over binary payloads "
    "(mapInPandas, `operators/multimodal.py`). The decode is the "
    "deterministic stand-in (real codecs absent here), which makes even "
    "the Python-side batch path oracle-checkable: the oracle recomputes "
    "the fake's sha256-derived fields in pure SQL.",
)
def q57_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_features

    feats = extract_features(_docs_as_media(load(spark, sf_dir, "documents")))
    return feats.select(
        "media_id", "kind", "n_bytes", "content_sha256", "width", "height", "duration_ms"
    )


@query(
    "q58_winnowing",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             CASE WHEN length(text) >= 8 THEN
               list_transform(generate_series(1, length(text) - 7), i -> md5(substr(text, i, 8)))
             ELSE [] END AS grams
      FROM documents
    ), sel AS (
      SELECT doc_id,
        CASE
          WHEN len(grams) >= 4 THEN
            list_sort(list_distinct(list_transform(
              generate_series(1, len(grams) - 3), j -> list_aggregate(grams[j:j+3], 'min'))))
          WHEN len(grams) >= 1 THEN [list_aggregate(grams, 'min')]
          ELSE []
        END AS fps
      FROM g
    )
    SELECT doc_id, CAST(len(fps) AS INT) AS n_fingerprints,
           fps[1] AS first_fp, fps[len(fps)] AS last_fp
    FROM sel
    """,
    doc="Winnowing (rolling-hash) document fingerprints: char-8-gram md5 "
    "hashes, window-4 minima, deduped (MOSS). Shared substrings of "
    "length >= 11 guarantee a common fingerprint — the partial-overlap "
    "detector exact/MinHash dedup can't provide. Runs on the "
    "Arrow-batched extractor (one scan-local map, zero exchange); the "
    "column-expression twin winnow_fingerprints stays equivalence-"
    "tested against it.",
)
def q58_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import winnow_summary_rows

    d = load(spark, sf_dir, "documents")
    return winnow_summary_rows(d, k=8, w=4)


@query(
    "q68_stratified_sample",
    oracle="""
    SELECT doc_id, lang, CAST(rk AS INT) AS sample_rank
    FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    WHERE rk <= 40
    """,
    doc="Deterministic 40-docs-per-language balanced sample "
    "(operators/sampling.py::stratified_sample): rank by md5(doc_id) "
    "inside each stratum — reproducible, growth-stable, exact counts, "
    "unlike sampleBy. One shuffle on the stratum key; WindowGroupLimit "
    "prunes to ~N rows per input partition before the exchange.",
)
def q68_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_sample

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(d, ["lang"], "doc_id", 40)


@query(
    "q69_decontamination",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang, text,
             CASE WHEN b < 205 THEN 'train' WHEN b < 231 THEN 'val' ELSE 'test' END AS split
      FROM (
        SELECT *,
               CAST(((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                   + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS INT) AS b
        FROM documents
      )
    ),
    toks AS (SELECT doc_id, lang, split, string_split(text, ' ') AS w FROM s),
    g AS (
      SELECT doc_id, split, array_to_string(w[i:i+7], ' ') AS gram
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 7)) AS i) t
    ),
    tr AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
    cont AS (SELECT DISTINCT g.doc_id FROM g JOIN tr USING (gram) WHERE g.split = 'test')
    SELECT s.lang,
           COUNT(*) AS n_test_docs,
           CAST(SUM(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(SUM(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS contamination_rate
    FROM s LEFT JOIN cont ON s.doc_id = cont.doc_id
    WHERE s.split = 'test'
    GROUP BY s.lang
    """,
    doc="Train/test decontamination report: a test doc is contaminated "
    "if any of its word-8-grams appears in any train doc (the standard "
    "benchmark-overlap check, self-applied to q64's deterministic "
    "split). Physical shape at 100 TB: explode grams scan-side, "
    "distinct the train grams (one shuffle), LEFT SEMI join the test "
    "grams against them (hash join on the gram), distinct doc_ids, "
    "then a broadcast-back to the per-lang rollup. The gram explosion "
    "is linear in corpus tokens and never materialized.",
)
def q69_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_split
    from ..operators.textops import word_shingles

    d = hash_split(
        load(spark, sf_dir, "documents").select("doc_id", "lang", "text"), "doc_id"
    )
    grams = d.select(
        "doc_id", "split", F.explode(word_shingles(F.col("text"), k=8)).alias("gram")
    )
    train_grams = grams.filter(F.col("split") == "train").select("gram").distinct()
    contaminated = (
        grams.filter(F.col("split") == "test")
        .join(train_grams, "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_cont", F.lit(1))
    )
    test = d.filter(F.col("split") == "test").select("doc_id", "lang")
    return (
        test.join(contaminated, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_test_docs"),
            F.sum(F.coalesce(F.col("is_cont"), F.lit(0))).alias("n_contaminated"),
            (
                F.sum(F.coalesce(F.col("is_cont"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("contamination_rate"),
        )
    )


@query(
    "q70_residual_ivfpq_topk",
    oracle=_ANN_AUDIT_ORACLE,
    doc="IVF-PQ with residual encoding (FAISS by_residual): codes "
    "quantize x̂ − ĉ(cell) instead of the raw vector, and ADC adds the "
    "exact q·ĉ(cell) term back per row. Same scan shape as q67 — "
    "probed cells' codes only, exact rerank of the shortlist — with "
    "the code budget spent on the residual distribution. Wins when the "
    "corpus clusters (reconstruction-error test on seeded clustered "
    "vectors); on this near-uniform synthetic corpus it measures "
    "recall@10 0.92 vs q67's 0.88 (within noise — residuals are no "
    "tighter than raw vectors here). Trades re-encode-on-recluster "
    "for that: q67's raw-vector variant never pays it.",
)
def q70_residual_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import ivfpq_topk

    return _ann_audit(
        spark,
        sf_dir,
        lambda emb, q: ivfpq_topk(emb, q, dim=EMBED_DIM, k=10, refine_factor=10, residual=True),
        min_recall=0.75,
    )


@query(
    "q71_repetition_stats",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) t
    ),
    c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
           CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_bigram_frac,
           CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
             / SUM(cnt) AS dup_bigram_frac
    FROM c GROUP BY 1
    """,
    doc="Gopher-style repetition quality signals per doc: the mass of "
    "the most frequent word bigram and of all repeated bigrams, as "
    "fractions of total bigram occurrences — the filter that catches "
    "boilerplate/spam documents TTR (q46) misses. Two shuffles: "
    "(doc, gram) count then per-doc rollup; the gram explosion stays "
    "pipeline-local between them. Word-level because the corpus is "
    "single-space word soup (no line structure to hash).",
)
def q71_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import word_shingles

    d = load(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id", F.explode(word_shingles(F.col("text"), k=2)).alias("gram")
    )
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    return per_gram.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"),
        (F.max("cnt").cast("double") / F.sum("cnt")).alias("top_bigram_frac"),
        (
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0))).cast(
                "double"
            )
            / F.sum("cnt")
        ).alias("dup_bigram_frac"),
    )


@query(
    "q72_dedup_delta",
    oracle="""
    WITH fp AS (
      SELECT doc_id, lang,
             md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fingerprint
      FROM documents
    ),
    corpus AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 400),
    delta AS (
      SELECT *, doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint) AS keep
      FROM fp WHERE doc_id >= 400
    )
    SELECT d.doc_id, d.lang, d.fingerprint
    FROM delta d LEFT JOIN corpus c ON d.fingerprint = c.fingerprint
    WHERE d.keep AND c.fingerprint IS NULL
    """,
    doc="Incremental exact dedup (operators/dedup.py::dedup_delta_exact): "
    "admit a delta batch (doc_id >= 400) against the historical corpus "
    "(doc_id < 400) using only the corpus FINGERPRINT store — the "
    "production shape where a daily batch never re-scans 100 TB of "
    "history. In-delta first-writer-wins window + one anti-join on the "
    "fingerprint; bucket the store by fingerprint and the store side "
    "never reshuffles.",
)
def q72_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_delta_exact
    from ..operators.textops import fingerprint as fp_col

    docs = load(spark, sf_dir, "documents")
    corpus_fps = (
        docs.filter(F.col("doc_id") < 400)
        .select(fp_col(F.col("text")).alias("fingerprint"))
        .distinct()
    )
    delta = docs.filter(F.col("doc_id") >= 400)
    return dedup_delta_exact(delta, corpus_fps).select("doc_id", "lang", "fingerprint")


@query(
    "q73_bm25_ranking",
    oracle="""
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl, string_split(text, ' ') AS w
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM toks),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
      FROM (SELECT doc_id, dl, unnest(w) AS term FROM toks)
      WHERE term IN ('spark', 'join', 'window')
      GROUP BY 1, 2
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             CAST(
               ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                        / (CAST(df.df AS DOUBLE) + 0.5))
               * ((CAST(tf.tf AS DOUBLE) * 2.2)
                  / (CAST(tf.tf AS DOUBLE)
                     + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(tf.dl AS DOUBLE) / avgdl))))
             AS DECIMAL(38, 12)) AS term_score
      FROM tf JOIN df USING (term) CROSS JOIN stats
    )
    SELECT doc_id, CAST(SUM(term_score) AS DOUBLE) AS bm25
    FROM scored GROUP BY 1
    """,
    doc="BM25 lexical ranking for the query {spark, join, window} "
    "(k1=1.2, b=0.75): tf from one explode+groupBy, df and the "
    "(N, avgdl) scalars broadcast back — the standard retrieval scorer "
    "a mixed lexical/embedding curation pipeline needs next to q44's "
    "dense scores. Engine-parity notes: the per-term double score is "
    "cast to DECIMAL(38,12) BEFORE the per-doc SUM (float addition "
    "order is partition-dependent; decimal addition is exact; scale 12 "
    "because Spark casts via the shortest 17-digit repr while DuckDB "
    "expands the full binary value — scale 18 cannot agree), and the "
    "score expression is written in the identical operation order on "
    "both sides so every IEEE op rounds identically.",
)
def q73_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = ["spark", "join", "window"]
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(words(F.col("text"))).alias("dl"), words(F.col("text")).alias("w")
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.select("doc_id", "dl", F.explode("w").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tf_norm = (F.col("tf").cast("double") * F.lit(2.2)) / (
        F.col("tf").cast("double")
        + F.lit(1.2)
        * (F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * (F.col("dl").cast("double") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (idf * tf_norm).cast("decimal(38,12)").alias("term_score"))
    )
    return scored.groupBy("doc_id").agg(F.sum("term_score").cast("double").alias("bm25"))


@query(
    "q74_weighted_sample",
    oracle="""
    WITH k AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_words,
             pow(
               (CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
                     AS DOUBLE) + 0.5) / 281474976710656.0,
               1.0 / CAST(len(string_split(text, ' ')) AS DOUBLE)
             ) AS es_key
      FROM documents
    )
    SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words
    FROM k ORDER BY es_key DESC, doc_id LIMIT 60
    """,
    doc="Deterministic weighted sample without replacement "
    "(operators/sampling.py::weighted_sample — Efraimidis-Spirakis "
    "A-Res with md5-derived uniforms, weight = document length): the "
    "length-upweighted draw a token-budget-aware curation pass makes. "
    "No RNG state, reproducible run-to-run; scan-local keys + one "
    "TakeOrdered top-n (n per partition, no full sort). The pow key "
    "is excluded from the output so the oracle compares the SELECTED "
    "SET, immune to last-ulp pow differences.",
)
def q74_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import weighted_sample

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(words(F.col("text"))).cast("bigint").alias("n_words")
    )
    return weighted_sample(d, "doc_id", F.col("n_words"), 60).select(
        "doc_id", "lang", "n_words"
    )


@query(
    "q75_sequence_packing",
    # Derived-property oracle: pack COMPOSITION depends on partition
    # boundaries (greedy stateful fill — not SQL-expressible), but the
    # packing INVARIANTS are: every doc packed exactly once, token mass
    # conserved, and no multi-doc pack over budget. The Spark side
    # aggregates the packs down to those invariants; the oracle
    # recomputes the corpus totals and pins the booleans.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_packed,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens_packed,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_docs,
           TRUE AS budget_ok
    FROM documents
    """,
    doc="Token-budget sequence packing (sampling.pack_sequences): "
    "concatenate hash-ordered documents into 1024-token training "
    "sequences. Partition-local greedy fill — no shuffle, deterministic "
    "pack composition. Registered as the invariant audit (coverage, "
    "token conservation, budget cap); per-pack rows come from the "
    "operator directly, and fill-efficiency/determinism stay pinned in "
    "tests/test_datapipe.py.",
)
def q75_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import pack_sequences

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(words(F.col("text"))).cast("long").alias("n_tokens")
    )
    packs = pack_sequences(d, "doc_id", "n_tokens", budget=1024, partitions=8)
    stats = packs.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs_packed"),
        F.sum("total_tokens").cast("bigint").alias("n_tokens_packed"),
        (
            F.sum(
                F.when((F.col("total_tokens") > 1024) & (F.col("n_docs") > 1), 1).otherwise(0)
            )
            == 0
        ).alias("budget_ok"),
    )
    distinct = (
        packs.select(F.explode("doc_ids").alias("doc_id"))
        .agg(F.countDistinct("doc_id").alias("n_distinct_docs"))
    )
    return stats.crossJoin(distinct).select(
        "n_docs_packed", "n_tokens_packed", "n_distinct_docs", "budget_ok"
    )


@query(
    "q76_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    vocab AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
    total AS (SELECT SUM(cnt) AS n_tokens FROM vocab),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    scored AS (
      SELECT tf.doc_id,
             CAST(tf.tf AS BIGINT) AS tf,
             CAST(CAST(tf.tf AS DOUBLE)
                  * ln(CAST(cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE))
               AS DECIMAL(38, 12)) AS term_lp
      FROM tf JOIN vocab USING (term) CROSS JOIN total
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_words,
           CAST(CAST(SUM(term_lp) AS DOUBLE) / SUM(tf) AS DOUBLE) AS avg_logprob
    FROM scored GROUP BY 1
    """,
    doc="Unigram log-probability quality score per doc (the KenLM-style "
    "perplexity-filter stand-in): avg over tokens of ln(corpus unigram "
    "probability) — gibberish and off-distribution docs score low. Two "
    "token-stream shuffles (vocab counts, per-doc tf) + a vocab hash "
    "join; the n_tokens scalar broadcasts. Per-term logprobs go "
    "DECIMAL(38,12) before the per-doc sum (partition-order-free), the "
    "final average divides in double from the exact sum.",
)
def q76_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(words(F.col("text"))).alias("term"))
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n_tokens"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    term_lp = (
        F.col("tf").cast("double")
        * F.log(F.col("cnt").cast("double") / F.col("n_tokens").cast("double"))
    ).cast("decimal(38,12)")
    scored = (
        tf.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.col("tf").cast("bigint").alias("tf"), term_lp.alias("term_lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_words"),
        (F.sum("term_lp").cast("double") / F.sum("tf")).cast("double").alias("avg_logprob"),
    )


@query(
    "q77_leakage_safe_split",
    oracle="""
    WITH fp AS (
      SELECT doc_id, lang,
             md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fingerprint
      FROM documents
    ),
    b AS (
      SELECT doc_id, lang, fingerprint,
             CAST(((strpos('0123456789abcdef', substr(md5(fingerprint), 1, 1)) - 1) * 16
                 + strpos('0123456789abcdef', substr(md5(fingerprint), 2, 1)) - 1) AS INT) AS bucket
      FROM fp
    )
    SELECT doc_id, lang, fingerprint,
           CASE WHEN bucket < 205 THEN 'train'
                WHEN bucket < 231 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
    doc="Leakage-safe deterministic split: the split keys on the CONTENT "
    "fingerprint, not the doc id, so exact duplicates always land in "
    "the same split — id-keyed splits (q64) leak every duplicated doc "
    "across train/test. Still a pure scan-local expression: no "
    "shuffle, no dedup pass required first. (Near-dup leakage needs "
    "cluster-keyed splits — compose q61's components with this.)",
)
def q77_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_split
    from ..operators.textops import fingerprint as fp_col

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", fp_col(F.col("text")).alias("fingerprint")
    )
    return hash_split(d, "fingerprint")


@query(
    "q78_chunking",
    oracle="""
    WITH base AS (
      SELECT doc_id, text, length(text) AS n FROM documents
    ),
    idx AS (
      SELECT doc_id, text, n, unnest(generate_series(0, CAST(greatest(n - 1, 0) AS BIGINT), 96)) AS start
      FROM base
    )
    SELECT doc_id,
           CAST(start / 96 AS INT) AS chunk_idx,
           CAST(start AS BIGINT) AS char_start,
           substr(text, CAST(start AS INT) + 1, 128) AS chunk
    FROM idx
    """,
    doc="Sliding-window document chunking for embedding pipelines: "
    "128-char windows with 32-char overlap (stride 96), each chunk "
    "carrying its (doc_id, chunk_idx, char_start) provenance — the "
    "unit an embedding or retrieval index consumes. Scan-local "
    "explode, no shuffle; chunk count is linear in corpus chars and "
    "never materialized outside the pipeline.",
)
def q78_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    size, stride = 128, 96
    d = load(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(0), F.greatest(F.length("text") - 1, F.lit(0)), F.lit(stride)
    )
    ex = d.select("doc_id", "text", F.explode(starts).alias("start"))
    return ex.select(
        "doc_id",
        (F.col("start") / stride).cast("int").alias("chunk_idx"),
        F.col("start").cast("bigint").alias("char_start"),
        F.substring(F.col("text"), F.col("start") + 1, size).alias("chunk"),
    )


@query(
    "q79_cluster_safe_split",
    oracle="""
    WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) t
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
    ),
    clusters AS (SELECT u AS doc_id, least(u, MIN(v)) AS cluster_id FROM reach GROUP BY u),
    keyed AS (
      SELECT d.doc_id, d.lang, COALESCE(c.cluster_id, d.doc_id) AS cluster_key
      FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    )
    SELECT doc_id, lang, cluster_key,
           CASE WHEN b < 205 THEN 'train' WHEN b < 231 THEN 'val' ELSE 'test' END AS split
    FROM (
      SELECT *,
             CAST(((strpos('0123456789abcdef', substr(md5(CAST(cluster_key AS VARCHAR)), 1, 1)) - 1) * 16
                 + strpos('0123456789abcdef', substr(md5(CAST(cluster_key AS VARCHAR)), 2, 1)) - 1) AS INT) AS b
      FROM keyed
    )
    """,
    doc="Cluster-keyed leakage-safe split: near-duplicate docs share a "
    "split because the split keys on their connected-component id "
    "(q61's closure over exact-Jaccard pairs; singletons key on their "
    "own id) — closing the near-dup train/test leak that q77's "
    "fingerprint split only closes for exact dups. At 100 TB the "
    "component pass consumes q42's MinHash pairs; the split itself "
    "stays a scan-local expression over the cluster key.",
)
def q79_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import dedup_clusters
    from ..operators.sampling import hash_split

    d = load(spark, sf_dir, "documents")
    clusters = dedup_clusters(
        ngram_jaccard_pairs(d, threshold=0.5, k=3)
    ).select("doc_id", "cluster_id")
    keyed = (
        d.select("doc_id", "lang")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("cluster_id", "doc_id").alias("cluster_key"),
        )
    )
    return hash_split(keyed, "cluster_key")


@query(
    "q80_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    c AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
    t AS (SELECT SUM(cnt) AS total FROM c)
    SELECT term, CAST(cnt AS BIGINT) AS cnt
    FROM c CROSS JOIN t
    WHERE CAST(cnt AS DOUBLE) / total > 0.01
    """,
    doc="Heavy hitters over the token stream (support > 1%): "
    "`freqItems` (Spark's Misra-Gries-family single-pass sketch, "
    "guaranteed a SUPERSET of the true heavy items) prunes the "
    "candidate set, then an exact count verifies each candidate — so "
    "the output is deterministic and exactly the true heavy hitters "
    "while the full-vocabulary shuffle is replaced by a semi join on "
    "a handful of candidates. The 100 TB shape for 'top boilerplate "
    "tokens/domains' monitors where the exact q55 rollup would "
    "shuffle the whole vocabulary.",
)
def q80_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    support = 0.01
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(words(F.col("text"))).alias("term"))
    cand = [
        t
        for t in toks.freqItems(["term"], support=support).collect()[0][0]
        if t is not None
    ]
    total = toks.count()
    return (
        toks.filter(F.col("term").isin(cand))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt").cast("double") / F.lit(float(total)) > support)
        .select("term", F.col("cnt").cast("bigint").alias("cnt"))
    )


@query(
    "q81_embedding_centroids",
    oracle=f"""
    WITH el AS (
      SELECT label, i - 1 AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS micro
      FROM embeddings, LATERAL (SELECT unnest(range(1, {EMBED_DIM + 1})) AS i) t
    )
    SELECT label, CAST(dim AS INT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(micro) AS DOUBLE) / COUNT(*) / 1000000.0 AS DOUBLE) AS centroid
    FROM el GROUP BY 1, 2
    """,
    doc="Per-label embedding centroids — the corpus drift monitor (a "
    "shifting centroid or exploding dispersion flags an ingest or "
    "model change). One posexplode + one (label, dim) rollup with "
    "map-side combine; elements are floor-quantized to integer "
    "micro-units before summing so the aggregate is exact, "
    "partition-order-free, and engine-portable (float-derived doubles "
    "can't round-trip a decimal cast at the float's own ulp; bigint "
    "sums can). 1e-6 quantization is far below any drift signal.",
)
def q81_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    el = emb.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "label",
        F.col("dim").cast("int").alias("dim"),
        F.floor(F.col("val").cast("double") * F.lit(1000000.0)).cast("bigint").alias("micro"),
    )
    return el.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("micro").cast("double") / F.count(F.lit(1)) / F.lit(1000000.0))
        .cast("double")
        .alias("centroid"),
    )


@query(
    "q82_embedding_dispersion",
    oracle=f"""
    WITH el AS (
      SELECT label, i - 1 AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS micro
      FROM embeddings, LATERAL (SELECT unnest(range(1, {EMBED_DIM + 1})) AS i) t
    ),
    d AS (
      SELECT label, dim,
             COUNT(*) AS n,
             CAST(SUM(micro) AS DECIMAL(38, 0)) AS s1,
             CAST(SUM(CAST(micro * micro AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS s2
      FROM el GROUP BY 1, 2
    ),
    g AS (
      SELECT label, MIN(n) AS n,
             CAST(SUM(s2) AS DECIMAL(38, 0)) AS a,
             CAST(SUM(CAST(s1 * s1 AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS b
      FROM d GROUP BY 1
    )
    SELECT label,
           CAST(n AS BIGINT) AS n_vectors,
           CAST(CAST(n AS DECIMAL(38, 0)) * a - b AS DOUBLE)
             / ({EMBED_DIM}.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1000000000000.0)
             AS variance
    FROM g
    """,
    doc="Per-label embedding dispersion — q81's companion drift signal "
    "(variance exploding = mixed or corrupted sources behind one "
    "label). Everything stays EXACT until one final division: "
    "micro-unit sums and sums-of-squares in DECIMAL(38,0) (bigint "
    "squares would overflow-throw under ANSI at corpus scale), "
    "combined as (n·ΣS2 − ΣS1²)/(dims·n²·10¹²) so no intermediate "
    "double ever feeds a decimal cast (the q73/q81 portability traps). "
    "Same single posexplode + rollup shape as q81.",
)
def q82_embedding_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    el = emb.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "label",
        "dim",
        F.floor(F.col("val").cast("double") * F.lit(1000000.0)).cast("bigint").alias("micro"),
    )
    d = el.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("micro").cast("decimal(38,0)").alias("s1"),
        F.sum((F.col("micro") * F.col("micro")).cast("decimal(38,0)")).alias("s2"),
    )
    g = d.groupBy("label").agg(
        F.min("n").alias("n"),
        F.sum("s2").cast("decimal(38,0)").alias("a"),
        F.sum((F.col("s1") * F.col("s1")).cast("decimal(38,0)")).alias("b"),
    )
    n_dbl = F.col("n").cast("double")
    return g.select(
        "label",
        F.col("n").cast("bigint").alias("n_vectors"),
        (
            (F.col("n").cast("decimal(38,0)") * F.col("a") - F.col("b")).cast("double")
            / (F.lit(float(EMBED_DIM)) * n_dbl * n_dbl * F.lit(1_000_000_000_000.0))
        ).alias("variance"),
    )


@query(
    "q83_mixture_resample",
    oracle="""
    WITH tgt(lang, target) AS (
      VALUES ('de', 0.2), ('en', 0.2), ('es', 0.2), ('fr', 0.2), ('zh', 0.2)
    ),
    c AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM documents GROUP BY 1),
    j AS (SELECT c.lang, c.n, tgt.target FROM c JOIN tgt USING (lang)),
    sc AS (SELECT MIN(n / target) AS scale FROM j),
    p AS (SELECT lang, (scale * target) / n AS p FROM j CROSS JOIN sc)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN p USING (lang)
    WHERE (CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12) AS BIGINT)
                AS DOUBLE) + 0.5) / 281474976710656.0 < p.p
    """,
    doc="Domain/language mixture resampling: downsample-only rebalance "
    "of the corpus to equal per-language shares (the data-mixing step "
    "before training export). The binding group is kept whole; every "
    "other is thinned by a deterministic md5-keyed coin. Two passes: "
    "a tiny per-group count aggregate, then a broadcast of 5 "
    "acceptance probabilities back over a scan-local filter — the "
    "corpus itself never shuffles, which is what makes the op viable "
    "at 100 TB (an exact-count variant would window-shuffle the whole "
    "table into one reducer per language). Probability arithmetic is "
    "plain IEEE double products/divisions in an identical evaluation "
    "order on both engines, so the per-row decision is bit-portable.",
)
def q83_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import mixture_sample

    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    targets = {g: 0.2 for g in ("de", "en", "es", "fr", "zh")}
    # Re-project: the join inside mixture_sample fronts the group key;
    # the driver's ORDER BY ALL parity needs the oracle's column order.
    return mixture_sample(d, "lang", "doc_id", targets).select("doc_id", "lang", "source")


# Oracle-side regex constants DERIVE from the operator's single
# definition (textops.PII_PATTERNS) — a tightened pattern there must
# flow into the SQL oracle automatically, not be hand-synchronized.
from ..operators.textops import PII_PATTERNS as _PII

_PII_BY_NAME = {name: pat for name, pat, _ in _PII}
_PII_EMAIL = _PII_BY_NAME["email"]
_PII_SSN = _PII_BY_NAME["ssn"]
_PII_IPV4 = _PII_BY_NAME["ipv4"]
_PII_PHONE = _PII_BY_NAME["phone"]


@query(
    "q84_pii_scrub",
    oracle=f"""
    WITH prof AS (
      SELECT c_custkey,
             'user' || CAST(c_custkey AS VARCHAR) || '@example.com ip 10.' ||
             CAST(c_custkey % 200 AS VARCHAR) || '.' ||
             CAST(c_custkey % 100 AS VARCHAR) || '.' ||
             CAST(c_custkey % 50 AS VARCHAR) ||
             ' ssn ' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
             lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') || '-' ||
             lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
             ' call (555) ' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
             lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || ' end' AS t
      FROM customer
    ),
    s1 AS (
      SELECT c_custkey,
             CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INT) AS n_email,
             regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t
      FROM prof
    ),
    s2 AS (
      SELECT c_custkey, n_email,
             CAST(len(regexp_extract_all(t, '{_PII_SSN}')) AS INT) AS n_ssn,
             regexp_replace(t, '{_PII_SSN}', '<SSN>', 'g') AS t
      FROM s1
    ),
    s3 AS (
      SELECT c_custkey, n_email, n_ssn,
             CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS INT) AS n_ipv4,
             regexp_replace(t, '{_PII_IPV4}', '<IP>', 'g') AS t
      FROM s2
    )
    SELECT c_custkey, n_email, n_ssn, n_ipv4,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS INT) AS n_phone,
           regexp_replace(t, '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
    FROM s3
    """,
    doc="PII scrubbing before training export (operators/textops.py "
    "PII_PATTERNS): emails, SSN-shaped ids, IPv4s, phone numbers "
    "detected and replaced by digit-free placeholders, counted under a "
    "priority discipline so phone-shaped SSNs aren't double-counted. "
    "The synthetic corpus is PII-free, so the query manufactures "
    "deterministic PII-bearing profiles from customer keys INSIDE the "
    "query, identically on both engines — the oracle then genuinely "
    "exercises match/replace parity of the portable regex subset "
    "(Java vs RE2). Scan-local codegen expressions, no shuffle; "
    "semantics on hand-written PII strings are unit-tested in "
    "tests/test_operators.py.",
)
def q84_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import pii_counts, pii_redact

    k = F.col("c_custkey")

    def pad(mod: int, width: int):
        return F.lpad((k % mod).cast("string"), width, "0")

    profile = F.concat(
        F.lit("user"), k.cast("string"), F.lit("@example.com ip 10."),
        (k % 200).cast("string"), F.lit("."),
        (k % 100).cast("string"), F.lit("."),
        (k % 50).cast("string"),
        F.lit(" ssn "), pad(1000, 3), F.lit("-"), pad(100, 2), F.lit("-"), pad(10000, 4),
        F.lit(" call (555) "), pad(1000, 3), F.lit("-"), pad(10000, 4),
        F.lit(" end"),
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", profile.alias("t"))
    counts = pii_counts(F.col("t"))
    return c.select(
        "c_custkey",
        counts["email"].alias("n_email"),
        counts["ssn"].alias("n_ssn"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phone"),
        pii_redact(F.col("t")).alias("redacted"),
    )


@query(
    "q85_expectations",
    oracle="""
    WITH o AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS negative_total,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F') THEN 1 ELSE 0 END)
               AS BIGINT) AS unexpected_status,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_custkey,
             CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
                           THEN 1 ELSE 0 END) AS BIGINT) AS date_after_2000
      FROM orders
    )
    SELECT 'negative_total' AS check_name, negative_total AS violations, n_rows FROM o
    UNION ALL SELECT 'unexpected_status', unexpected_status, n_rows FROM o
    UNION ALL SELECT 'null_custkey', null_custkey, n_rows FROM o
    UNION ALL SELECT 'date_after_2000', date_after_2000, n_rows FROM o
    UNION ALL
    SELECT 'unique_o_orderkey',
           CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'l_orderkey_references_o_orderkey',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders oo
                                   WHERE oo.o_orderkey = l.l_orderkey)) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    """,
    doc="Data-quality expectation audit (pipeline/monitor.py): Deequ-style "
    "constraint verification over orders + lineitem — range, "
    "accepted-values, not-null and date-window checks compiled into ONE "
    "aggregate pass (adding a check is free; per-check count() loops "
    "re-scan the table), plus a uniqueness check (single distinct "
    "aggregate) and a referential-integrity anti-join, unioned into one "
    "(check_name, violations, n_rows) report. Two checks intentionally "
    "catch rows ('P' statuses, post-2000 dates) so the gate verifies "
    "real violation arithmetic, not just zeros.",
)
def q85_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.monitor import expectation_report, expect_references, expect_unique

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    report = expectation_report(
        o,
        {
            "negative_total": F.col("o_totalprice") < 0,
            "unexpected_status": ~F.col("o_orderstatus").isin("O", "F"),
            "null_custkey": F.col("o_custkey").isNull(),
            "date_after_2000": F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"),
        },
    )
    return report.unionByName(expect_unique(o, "o_orderkey")).unionByName(
        expect_references(li, "l_orderkey", o, "o_orderkey")
    )


@query(
    "q86_table_profile",
    oracle="""
    WITH w AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS null_doc_id,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd_doc_id,
             MIN(CAST(doc_id AS DOUBLE)) AS min_doc_id,
             MAX(CAST(doc_id AS DOUBLE)) AS max_doc_id,
             CAST(COUNT(*) - COUNT(lang) AS BIGINT) AS null_lang,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS nd_lang,
             CAST(COUNT(*) - COUNT(source) AS BIGINT) AS null_source,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS nd_source,
             CAST(COUNT(*) - COUNT(n_chars) AS BIGINT) AS null_n_chars,
             CAST(COUNT(DISTINCT n_chars) AS BIGINT) AS nd_n_chars,
             MIN(CAST(n_chars AS DOUBLE)) AS min_n_chars,
             MAX(CAST(n_chars AS DOUBLE)) AS max_n_chars
      FROM documents
    )
    SELECT 'doc_id' AS column, n_rows, null_doc_id AS n_null, nd_doc_id AS n_distinct,
           min_doc_id AS min_num, max_doc_id AS max_num FROM w
    UNION ALL
    SELECT 'lang', n_rows, null_lang, nd_lang, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM w
    UNION ALL
    SELECT 'source', n_rows, null_source, nd_source, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM w
    UNION ALL
    SELECT 'n_chars', n_rows, null_n_chars, nd_n_chars, min_n_chars, max_n_chars FROM w
    """,
    doc="Dataset-level column profile (pipeline/monitor.py::profile_table): "
    "null counts, exact distinct cardinalities and numeric min/max for "
    "every published column, computed in ONE aggregate pass and "
    "unpivoted to long form — the health sheet next to each lakehouse "
    "dataset. Exact count(distinct) over k columns is an Expand (k× "
    "rows through the agg), the oracle-checkable form; the operator's "
    "approx_distinct flag swaps in one HLL sketch per column at scale. "
    "min/max only for numeric columns: stringified double formatting "
    "is engine-divergent (the reason this profile never strings).",
)
def q86_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.monitor import profile_table

    d = load(spark, sf_dir, "documents")
    return profile_table(
        d, ["doc_id", "lang", "source", "n_chars"], numeric=["doc_id", "n_chars"]
    )


@query(
    "q87_psi_drift",
    oracle="""
    WITH a AS (SELECT CAST(floor(n_chars / 200) AS BIGINT) AS bucket FROM documents WHERE lang = 'en'),
    b AS (SELECT CAST(floor(n_chars / 200) AS BIGINT) AS bucket FROM documents WHERE lang = 'de'),
    ca AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_a FROM a GROUP BY 1),
    cb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_b FROM b GROUP BY 1),
    ta AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot_a FROM a),
    tb AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot_b FROM b),
    j AS (
      SELECT COALESCE(ca.bucket, cb.bucket) AS bucket, n_a, n_b, tot_a, tot_b,
             CAST(COUNT(*) OVER () AS DOUBLE) AS nb
      FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket
      CROSS JOIN ta CROSS JOIN tb
    )
    SELECT bucket,
           (CAST(COALESCE(n_a, 0) AS DOUBLE) + 1.0) / (CAST(tot_a AS DOUBLE) + 1.0 * nb) AS p_a,
           (CAST(COALESCE(n_b, 0) AS DOUBLE) + 1.0) / (CAST(tot_b AS DOUBLE) + 1.0 * nb) AS p_b,
           CAST(CAST(
             (((CAST(COALESCE(n_a, 0) AS DOUBLE) + 1.0) / (CAST(tot_a AS DOUBLE) + 1.0 * nb))
              - ((CAST(COALESCE(n_b, 0) AS DOUBLE) + 1.0) / (CAST(tot_b AS DOUBLE) + 1.0 * nb)))
             * (ln((CAST(COALESCE(n_a, 0) AS DOUBLE) + 1.0) / (CAST(tot_a AS DOUBLE) + 1.0 * nb))
                - ln((CAST(COALESCE(n_b, 0) AS DOUBLE) + 1.0) / (CAST(tot_b AS DOUBLE) + 1.0 * nb)))
           AS DECIMAL(38, 12)) AS DOUBLE) AS contrib
    FROM j
    """,
    doc="Population-stability-index drift monitor "
    "(pipeline/monitor.py::psi_drift): en-cohort vs de-cohort document "
    "length distributions over 200-char buckets; SUM(contrib) is the "
    "PSI. Each cohort collapses to a per-bucket count BEFORE any join, "
    "so the full-outer join runs over bucket cardinality, never rows — "
    "the shape that survives two 100 TB cohorts. Laplace smoothing "
    "keeps one-sided buckets finite; ratios are IEEE doubles from "
    "exact counts in a fixed evaluation order, and the ln-derived "
    "contribution truncates to DECIMAL(38,12) because JVM and DuckDB "
    "ln disagree in the last ulp for some inputs (q73 rule).",
)
def q87_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.monitor import psi_drift

    d = load(spark, sf_dir, "documents")
    bucket = F.floor(F.col("n_chars") / 200).cast("bigint")
    return psi_drift(
        d.filter(F.col("lang") == "en"),
        d.filter(F.col("lang") == "de"),
        bucket,
    )


@query(
    "q88_skew_report",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
    r AS (
      SELECT user_id, n, ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rk
      FROM c QUALIFY rk <= 20
    )
    SELECT user_id, n, CAST(rk AS INT) AS rank,
           CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
           CAST(SUM(n) OVER (ORDER BY rk) AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
    FROM r CROSS JOIN t
    """,
    doc="Join/agg skew diagnosis (operators/skew.py::skew_report): the "
    "top-20 hottest user_id values with row share and cumulative share "
    "— the measurement that decides between salted_agg, AQE skew "
    "splitting, or nothing. Count aggregate with map-side combine, "
    "then TakeOrdered top-N (never a global sort of the key space); "
    "share arithmetic happens on ≤ 20 rows with the scalar total "
    "broadcast in. Shares are IEEE doubles from exact bigint counts.",
)
def q88_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import skew_report

    return skew_report(load(spark, sf_dir, "events"), ["user_id"], top_n=20)


@query(
    "q89_boilerplate_mass",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS gram
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS i) t
    ),
    gc AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs FROM g GROUP BY 1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN n_docs >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           CAST(SUM(CASE WHEN n_docs >= 3 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS boiler_frac
    FROM g JOIN gc USING (gram)
    GROUP BY 1
    """,
    doc="Cross-document boilerplate mass: the fraction of each doc's "
    "distinct word-5-grams that recur in >= 3 documents — the "
    "repeated-template signal (footers, navigation, license "
    "blurbs) that RefinedWeb/CCNet-style curation removes BEFORE "
    "near-dup detection (a doc can be boilerplate-heavy without "
    "having any single near-duplicate; q41/q42 can't see it, and "
    "q71 only sees WITHIN-doc repetition). Shape: scan-local gram "
    "explode, one gram-count shuffle, then the doc rollup reuses the "
    "gram partitioning for the join — two shuffles total; grams "
    "never leave the pipeline and the hot gram table is the "
    "df-cut-style rollup, not raw text.",
)
def q89_boilerplate_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import word_shingles

    d = load(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), 5))).alias("gram"),
    )
    gc = grams.groupBy("gram").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    joined = grams.join(gc, "gram")
    is_boiler = F.when(F.col("n_docs") >= 3, 1).otherwise(0)
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum(is_boiler).cast("bigint").alias("n_boiler"),
        (F.sum(is_boiler).cast("double") / F.count(F.lit(1))).alias("boiler_frac"),
    )


@query(
    "q90_robust_outliers",
    oracle="""
    WITH m AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ),
    d AS (
      SELECT e.event_id, e.event_type, e.value, m.med
      FROM events e JOIN m USING (event_type)
    ),
    md AS (
      SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
      FROM d GROUP BY 1
    )
    SELECT d.event_id, d.event_type, d.value, d.med, md.mad,
           (d.value - d.med) / (1.4826 * md.mad) AS robust_z
    FROM d JOIN md USING (event_type)
    WHERE md.mad > 0 AND abs((d.value - d.med) / (1.4826 * md.mad)) > 3.0
    """,
    doc="Robust anomaly detection (pipeline/monitor.py::robust_outliers): "
    "median/MAD flags per event_type — the estimator outliers can't "
    "poison, unlike mean/stddev z-scores. Two grouped exact-percentile "
    "passes whose per-type stats broadcast back over the scan (the "
    "fact table never shuffles); the approx=True variant swaps in "
    "constant-memory percentile sketches at 100 TB. Exact-median "
    "parity holds engine-to-engine: both interpolate the same sorted "
    "doubles, and the z arithmetic is IEEE in a fixed order.",
)
def q90_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.monitor import robust_outliers

    e = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return robust_outliers(e, ["event_type"], "value", z=3.0)


from .registry import REGISTRY as _REG  # noqa: E402

_Q48_SQL = _REG["q48_lang_id"].oracle


@query(
    "q91_label_confusion",
    oracle=f"""
    WITH q48 AS ({_Q48_SQL}),
    c AS (
      SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM q48 GROUP BY 1, 2
    ),
    t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1)
    SELECT c.lang, c.predicted_lang, c.n,
           CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS share
    FROM c JOIN t USING (lang)
    """,
    doc="Corpus label-quality audit: confusion matrix of the DECLARED "
    "lang column against the q48 heuristic detector, with each cell's "
    "share of its declared row — the monitor that catches mislabeled "
    "or polluted language shards before they skew the q83 mixture "
    "(a declared-en shard detecting 30% de is an ingest bug, not a "
    "sampling input). Pure composition: the q48 scan (codegen "
    "expressions, no shuffle) plus two tiny count aggregates; the "
    "oracle embeds q48's SQL as a CTE so both layers compose "
    "identically.",
)
def q91_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _REG["q48_lang_id"].fn(spark, sf_dir)
    c = base.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    t = c.groupBy("lang").agg(F.sum("n").cast("bigint").alias("tot"))
    return c.join(F.broadcast(t), "lang").select(
        "lang",
        "predicted_lang",
        "n",
        (F.col("n").cast("double") / F.col("tot").cast("double")).alias("share"),
    )


@query(
    "q92_tokenize_ids",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok AS (
      SELECT doc_id, i AS pos, w[i] AS word
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) t
    ),
    counts AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1),
    vocab AS (
      SELECT word, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word) AS INT) AS token_id
      FROM counts QUALIFY token_id <= 24
    ),
    enc AS (
      SELECT tok.doc_id, tok.pos, COALESCE(v.token_id, 0) AS tid
      FROM tok LEFT JOIN vocab v USING (word)
    )
    SELECT doc_id,
           list(tid ORDER BY pos) AS token_ids,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
    FROM enc GROUP BY 1
    """,
    doc="Vocabulary encoding (operators/textops.py::build_vocab + "
    "encode_tokens): corpus-derived frequency vocab (rank by count "
    "desc, word asc — deterministic), then text → ordered id arrays "
    "with OOV = 0 — the export step between curation and q75 packing. "
    "The vocab here is capped at 24 of the corpus's 31 words so the "
    "OOV path is genuinely exercised. The vocab folds into a constant "
    "map literal evaluated inside the corpus scan "
    "(textops.encode_tokens_mapped) — zero shuffle past the tiny "
    "word-count aggregate; the join+collect_list formulation "
    "(encode_tokens, kept for too-big-to-inline vocabs) shuffles every "
    "(doc, token) row and measured 3x slower at sf0.1.",
)
def q92_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import build_vocab, encode_tokens_mapped

    d = load(spark, sf_dir, "documents")
    vocab = build_vocab(d, "text", size=24)
    return encode_tokens_mapped(d, vocab)


@query(
    "q93_roundtrip_fidelity",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok AS (
      SELECT doc_id, i AS pos, w[i] AS word
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) t
    ),
    counts AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1),
    vocab AS (
      SELECT word, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word) AS INT) AS token_id
      FROM counts QUALIFY token_id <= 24
    ),
    enc AS (
      SELECT tok.doc_id, tok.pos, COALESCE(v.token_id, 0) AS tid
      FROM tok LEFT JOIN vocab v USING (word)
    ),
    dec AS (
      SELECT e.doc_id,
             string_agg(COALESCE(v.word, '<unk>'), ' ' ORDER BY e.pos) AS decoded,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN e.tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      FROM enc e LEFT JOIN vocab v ON v.token_id = e.tid
      GROUP BY 1
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dec.decoded = d.text THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lossless,
           CAST(SUM(dec.n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(dec.n_oov) AS BIGINT) AS n_oov,
           CAST(SUM(dec.n_oov) AS DOUBLE) / CAST(SUM(dec.n_tokens) AS DOUBLE)
             AS oov_rate
    FROM dec JOIN documents d USING (doc_id)
    GROUP BY 1
    """,
    doc="Export shard validation: encode the corpus with the q92 vocab, "
    "decode the id arrays back (operators/textops.py::decode_tokens), "
    "and audit per language how many documents survive the round trip "
    "losslessly and what token share fell to OOV — the loader-side "
    "check that an exported id-shard and its vocab actually belong "
    "together, and the per-shard signal for sizing the real vocab "
    "(an oov_rate cliff in one language means its script never made "
    "the frequency cut). encode ∘ decode run as constant-map lookups "
    "(textops.vocab_encode_map/vocab_decode_map) inside ONE projection "
    "over ONE corpus scan — no doc_id joins, no token shuffle; only "
    "(lang, flags, counts) rows reach the final per-language "
    "aggregate. The former 3-frame join formulation (encode_tokens + "
    "decode_tokens + re-join the corpus) shuffled the full token "
    "stream twice and measured 2.0s vs 1.0s at sf0.1 (the remaining "
    "second is the shared vocab aggregate + the corpus scan itself).",
)
def q93_roundtrip_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import build_vocab, decode_ids, encode_ids, let, vocab_maps

    d = load(spark, sf_dir, "documents")
    vocab = build_vocab(d, "text", size=24)
    enc_m, dec_m = vocab_maps(vocab)
    j = d.select(
        "lang",
        "text",
        let(
            encode_ids(F.col("text"), enc_m),
            lambda t: F.struct(
                F.size(t).cast("bigint").alias("n_tokens"),
                F.size(F.filter(t, lambda i: i == 0)).cast("bigint").alias("n_oov"),
                decode_ids(t, dec_m).alias("decoded"),
            ),
        ).alias("__e"),
    ).select("lang", "text", "__e.n_tokens", "__e.n_oov", "__e.decoded")
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("decoded") == F.col("text"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_lossless"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_oov").cast("bigint").alias("n_oov"),
        (F.sum("n_oov").cast("double") / F.sum("n_tokens").cast("double")).alias(
            "oov_rate"
        ),
    )


@query(
    "q94_boilerplate_scrub",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    occ AS (
      SELECT doc_id, i AS start, array_to_string(w[i:i+4], ' ') AS gram
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS i) t
    ),
    freq AS (
      SELECT gram
      FROM (SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM occ GROUP BY 1)
      WHERE nd >= 3
    ),
    cov AS (
      SELECT DISTINCT occ.doc_id, p AS pos
      FROM occ JOIN freq USING (gram),
           LATERAL (SELECT unnest(generate_series(occ.start, occ.start + 4)) AS p) t
    ),
    tok AS (
      SELECT doc_id, i AS pos, w[i] AS word
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) t
    ),
    kept AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(t.word, ' ' ORDER BY t.pos) AS scrubbed_text
      FROM tok t
      LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
      WHERE c.pos IS NULL
      GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           COALESCE(k.n_kept, CAST(0 AS BIGINT)) AS n_kept,
           COALESCE(k.scrubbed_text, '') AS scrubbed_text
    FROM documents d LEFT JOIN kept k USING (doc_id)
    """,
    doc="Boilerplate scrubbing (operators/textops.py::"
    "scrub_frequent_grams): the transformation twin of q89 — every "
    "word-5-gram occurrence recurring in >= 3 documents is masked and "
    "the doc rebuilt from surviving words, the RefinedWeb/CCNet step "
    "that strips footers and license blurbs while keeping unique "
    "prose. Overlapping frequent grams merge via position-set "
    "coverage. The Spark side collapses covered positions to one "
    "small per-doc array and rebuilds with a codegen indexed filter "
    "over the words array (0-based; the oracle replays the identical "
    "algorithm 1-based with an anti-join rebuild) — corpus text never "
    "shuffles, only (id, position) pairs do.",
)
def q94_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import scrub_frequent_grams

    return scrub_frequent_grams(
        load(spark, sf_dir, "documents"), k=5, min_docs=3
    )


@query(
    "q95_scd2_dimension",
    oracle="""
    WITH ch AS (
      SELECT o_custkey AS cust,
             CASE WHEN MAX(o_totalprice) > 150000 THEN 'BIG' ELSE 'SMALL' END
               AS segment,
             CAST(o_orderdate AS TIMESTAMP) AS eff
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    pool AS (
      SELECT c_custkey AS cust, c_mktsegment AS segment,
             TIMESTAMP '1990-01-01' AS eff, TRUE AS is_seed
      FROM customer
      UNION ALL
      SELECT cust, segment, eff, FALSE FROM ch
    ),
    s AS (
      SELECT *,
             LAG(segment) OVER (PARTITION BY cust ORDER BY eff, is_seed DESC)
               AS prev
      FROM pool
    ),
    surv AS (SELECT cust, segment, eff FROM s WHERE prev IS NULL OR segment <> prev),
    v AS (
      SELECT cust, segment, eff AS valid_from,
             LEAD(eff) OVER (PARTITION BY cust ORDER BY eff) AS valid_to
      FROM surv
    )
    SELECT cust, segment, valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM v
    """,
    doc="SCD type-2 dimension versioning under the gate "
    "(sources/merge.py::scd2_apply): the customer snapshot becomes a "
    "versioned dimension and a change batch derived from orders "
    "(per-customer-per-day segment recomputation) is applied — "
    "consecutive same-segment changes collapse to nothing, real "
    "changes close the open version and chain new ones, each key ends "
    "with exactly one is_current row. The oracle replays the identical "
    "seed→dedupe→lead algorithm in window SQL. Physical shape: one "
    "delta-sized exchange for the per-key window (both window "
    "operators share it); closed history — the 100 TB side of a real "
    "dimension — never shuffles.",
)
def q95_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.merge import scd2_apply

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    dim = c.select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    ch = o.groupBy(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").cast("timestamp").alias("effective_ts"),
    ).agg(
        F.when(F.max("o_totalprice") > 150000, "BIG")
        .otherwise("SMALL")
        .alias("segment")
    )
    return scd2_apply(dim, ch, ["cust"], ["segment"])


@query(
    "q97_sketch_mau",
    # Derived-property oracle (q60's pattern): the DataSketches HLL
    # binary has no DuckDB twin, so the checkable output is the exact
    # per-type distinct count plus an in-query boolean asserting the
    # merged-sketch estimate lands within 5% of it.
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_distinct_exact,
           TRUE AS sketch_ok
    FROM events GROUP BY 1
    """,
    doc="Pre-aggregated distinct users via mergeable HLL sketches "
    "(operators/sketches.py): one 4 KiB sketch per (day, event_type) "
    "— the persistable rollup — then any date range / dimension "
    "subset folds sketches instead of rescanning raw events "
    "(q60's approx_count_distinct answers one fixed grouping per "
    "scan; this answers every grouping from kilobytes). Union over "
    "sketches is lossless in the sketch algebra: folding daily "
    "sketches equals sketching the range directly (tested bit-for-"
    "bit), so error never compounds. Deterministic output.",
)
def q97_sketch_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import build_distinct_sketches, merge_distinct_estimate

    e = load(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type", "user_id"
    )
    daily = build_distinct_sketches(e, ["day", "event_type"], "user_id")
    est = merge_distinct_estimate(daily, ["event_type"])
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_distinct_exact")
    )
    err = F.abs(F.col("n_distinct") - F.col("n_distinct_exact")).cast("double")
    return exact.join(est, "event_type").select(
        "event_type",
        "n_distinct_exact",
        (err <= 0.05 * F.col("n_distinct_exact").cast("double")).alias("sketch_ok"),
    )


@query(
    "q96_prefix_jaccard",
    oracle=None,  # set below — reuses q41's oracle verbatim (same result set)
    doc="",
)
def q96_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.5, k=3)


def _finalize_q96() -> None:
    """q96 must equal q41 bit-for-bit — same oracle string, by construction."""
    from dataclasses import replace

    spec = _REG["q96_prefix_jaccard"]
    _REG["q96_prefix_jaccard"] = replace(
        spec,
        oracle=_REG["q41_ngram_jaccard_pairs"].oracle,
        doc="Exact Jaccard near-dup pairs via PPJoin-style prefix "
        "filtering (operators/dedup.py::prefix_jaccard_pairs): index "
        "only each doc's rare-first prefix (|d| - ceil(t·|d|) + 1 "
        "shingles under a global df-asc order), join prefixes, length-"
        "filter, verify candidates exactly with array_intersect. "
        "Lossless by the prefix-filtering theorem, so the oracle is "
        "q41's SQL verbatim — the all-pairs join and the prefix join "
        "must produce identical pairs, and the gate proves it. The "
        "scale win over q41: the quadratic join runs over prefix "
        "collisions (~(1-t) of index rows, boilerplate shingles never "
        "indexed) instead of every shared shingle, with recall exact "
        "rather than max_df's recall trade.",
    )


_finalize_q96()


@query(
    "q98_dsir_selection",
    oracle="""
    WITH toks AS (
      SELECT doc_id, (lang = 'en') AS is_t,
             unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    vocab AS (
      SELECT term, COUNT(*) AS cnt_raw,
             COUNT(CASE WHEN is_t THEN 1 END) AS cnt_tgt
      FROM toks GROUP BY 1
    ),
    tot AS (
      SELECT SUM(cnt_raw) AS n_raw, SUM(cnt_tgt) AS n_tgt, COUNT(*) AS v
      FROM vocab
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    scored AS (
      SELECT tf.doc_id, CAST(tf.tf AS BIGINT) AS tf,
             CAST(CAST(tf.tf AS DOUBLE) * (
                  ln((CAST(cnt_tgt AS DOUBLE) + 1) / (CAST(n_tgt AS DOUBLE) + v))
                - ln((CAST(cnt_raw AS DOUBLE) + 1) / (CAST(n_raw AS DOUBLE) + v))
             ) AS DECIMAL(38, 12)) AS term_lr
      FROM tf JOIN vocab USING (term) CROSS JOIN tot
    )
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_words,
           CAST(CAST(SUM(term_lr) AS DOUBLE) / SUM(tf) AS DOUBLE) AS avg_logratio,
           (CAST(CAST(SUM(term_lr) AS DOUBLE) / SUM(tf) AS DOUBLE) > 0) AS selected
    FROM scored GROUP BY 1
    """,
    doc="DSIR-style importance-resampling scores (Xie et al. 2023): "
    "per-doc length-normalized log ratio of a target unigram model "
    "(here the declared-'en' slice) vs the raw-corpus model, add-one "
    "smoothed over the joint vocabulary; selected = looks more like "
    "the target than the corpus average. Both models estimated in one "
    "conditional aggregate over the token stream — q76's plan shape "
    "plus one boolean. At 100 TB, hash terms into B buckets first "
    "(the paper's hashed n-gram features) to cap the model table.",
)
def q98_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import importance_logratios

    d = load(spark, sf_dir, "documents")
    return importance_logratios(d, F.col("lang") == "en")


@query(
    "q99_semantic_dedup",
    # Derived-property oracle: the kept SET depends on k-means cell
    # boundaries (cross-cluster ≥θ pairs are the documented miss mode —
    # measured real at sf0.1), so raw keeps can't be pinned by SQL. The
    # SemDeDup SAFETY property can: every drop must have a lower-id
    # ≥θ-cosine neighbor in its cell (the operator's exact drop rule —
    # and hence globally). The Spark side re-verifies each drop with
    # exact cosine, cell-locally; the oracle pins the invariants.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           TRUE AS drops_sound
    FROM embeddings
    """,
    doc="SemDeDup semantic deduplication (Abbas et al. 2023): k-means "
    "cluster the embedding space (deterministic mini-Lloyd coarse "
    "quantizer), drop any vector with a >=0.5-cosine lower-id "
    "neighbor in its cluster, keep the min id per duplicate chain. "
    "Pairs form only within a cell so the quadratic step is N^2/K and "
    "partition-local after one shuffle on cell. Registered as the "
    "soundness audit (no false drops, exact-verified in-plan); the "
    "kept set comes from the operator directly, and recall vs the q53 "
    "brute-force twin stays pytest-measured.",
)
def q99_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _dot, _norm, semantic_dedup_flags

    from ..operators.similarity import _assign_cells, train_ivf_centroids

    emb = load(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(emb, EMBED_DIM, 16, 2)
    flags = semantic_dedup_flags(
        emb, dim=EMBED_DIM, n_clusters=16, threshold=0.5, centroids=cents
    )
    # Cell-local audit: a drop is only ever caused by a lower-id >=θ
    # neighbor in the SAME cell (the operator's exact rule), so each
    # drop re-verifies against its cell with exact cosine — an
    # equi-join on cell, O(drops x cell size). The previous global
    # formulation (__ida < __idb alone) planned a broadcast
    # nested-loop over drops x corpus: same verdict, but O(drops x N)
    # work that stops being runnable long before 100 TB. Cross-cluster
    # misses stay measured by the q53 brute-force twin. The audit's
    # lower side needs only cell ASSIGNMENTS (not the operator's
    # keep verdicts — referencing flags twice would evaluate its
    # quadratic pair join twice), so it derives from the coarse
    # quantizer directly; the justification predicate stays an
    # expression independent of the operator's internals.
    dropped = flags.filter(~F.col("keep")).select(
        F.col("cell"),
        F.col("vec_id").alias("__idb"),
        F.col("embedding").alias("__vb"),
        _norm(F.col("embedding")).alias("__nb"),
    )
    lower = _assign_cells(emb.select("vec_id", "embedding"), cents, "vec_id").join(
        emb.select("vec_id", "embedding"), "vec_id"
    ).select(
        F.col("cell"),
        F.col("vec_id").alias("__ida"),
        F.col("embedding").alias("__va"),
        _norm(F.col("embedding")).alias("__na"),
    )
    cos = _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    justified = (
        dropped.join(lower, "cell")
        .filter((F.col("__ida") < F.col("__idb")) & (cos >= 0.5))
        .select("__idb")
        .distinct()
    )
    n_total = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    n_drop = dropped.agg(F.count(F.lit(1)).alias("__n_drop"))
    n_just = justified.agg(F.count(F.lit(1)).alias("__n_just"))
    return (
        n_total.crossJoin(n_drop)
        .crossJoin(n_just)
        .select("n_total", (F.col("__n_drop") == F.col("__n_just")).alias("drops_sound"))
    )


@query(
    "q100_bpe_merges",
    # Derived-property oracle: merges 2..40 depend on merge 1 (iterative
    # argmax — not SQL-expressible), but merge 1 IS: the argmax over
    # character-pair counts of the word-frequency table, with the same
    # (count desc, pair asc) tie-break. The oracle recomputes it plus
    # the structural invariants (merge count, merged = left||right), so
    # a regression in the counting machinery or tie-break flips the row.
    oracle="""
    WITH wc AS (
      SELECT word, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) u
      WHERE word <> '' GROUP BY 1
    ),
    p AS (
      SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b, SUM(cnt) AS c
      FROM wc, LATERAL (SELECT unnest(generate_series(1, length(word) - 1)) AS i) t
      WHERE length(word) >= 2
      GROUP BY 1, 2
    )
    SELECT CAST(40 AS BIGINT) AS n_merges, TRUE AS all_concat_ok,
           a AS first_left, b AS first_right
    FROM p ORDER BY c DESC, a, b LIMIT 1
    """,
    doc="BPE tokenizer training (Sennrich et al. 2016) over the corpus: "
    "one scan aggregates (word, count), then 40 merge iterations run "
    "over that vocabulary table — never the corpus. Driver-side loop "
    "when the vocab collects (every production trainer's shape), "
    "distributed zip_with/groupBy/fold loop when it doesn't; "
    "deterministic tie-break (count desc, pair asc) makes the merge "
    "sequence reproducible on any cluster. Registered as the audit row "
    "(count, concat invariant, first-merge cross-check); the merge "
    "table itself comes from the operator, and driver≡distributed "
    "equivalence stays pytest-pinned.",
)
def q100_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import learn_bpe

    d = load(spark, sf_dir, "documents")
    merges = learn_bpe(d, n_merges=40)
    table = spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string, merged string",
    )
    return table.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_merges"),
        (
            F.sum(
                F.when(F.concat(F.col("left"), F.col("right")) == F.col("merged"), 0).otherwise(1)
            )
            == 0
        ).alias("all_concat_ok"),
        F.min_by("left", "rank").alias("first_left"),
        F.min_by("right", "rank").alias("first_right"),
    )


@query(
    "q101_paragraph_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             CAST((i - 1) / 32 AS INT) AS chunk_idx,
             array_to_string(list_slice(w, i, i + 31), ' ') AS chunk
      FROM toks, LATERAL (
        SELECT unnest(generate_series(1, CAST(greatest(len(w), 1) AS BIGINT), 32)) AS i
      ) s
    ),
    ranked AS (
      SELECT doc_id, chunk_idx, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
      FROM chunks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_idx), '')
             AS scrubbed_text
    FROM ranked GROUP BY doc_id
    """,
    doc="CCNet-style sub-document exact dedup with reassembly: docs split "
    "into word-aligned 32-word paragraphs, every repeated paragraph "
    "(global first occurrence by (doc_id, chunk_idx) wins) is dropped, "
    "and each doc is rebuilt from its surviving paragraphs in order — "
    "the transformation twin of q40 whole-doc dedup, catching shared "
    "boilerplate blocks that whole-doc hashing misses and near-dup "
    "pair-joins only flag. Plan: scan-local chunking (no shuffle), one "
    "shuffle on chunk text for the first-occurrence window, one "
    "doc-keyed shuffle to reassemble; chunk text itself never fans out "
    "beyond its two key-shuffles. At 100 TB, hash the chunk to a "
    "128-bit fingerprint for the window key so the shuffle carries "
    "16-byte keys, not paragraphs (same move as q40/q72).",
)
def q101_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    size = 32
    d = load(spark, sf_dir, "documents").select("doc_id", words(F.col("text")).alias("w"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("w"), F.lit(1)), F.lit(size))
    chunks = d.select("doc_id", F.explode(starts).alias("i"), F.col("w")).select(
        "doc_id",
        (((F.col("i") - 1) / size).cast("int")).alias("chunk_idx"),
        F.array_join(F.slice(F.col("w"), F.col("i"), size), " ").alias("chunk"),
    )
    rn = F.row_number().over(
        Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    )
    ranked = chunks.withColumn("rn", rn)
    kept_struct = F.when(F.col("rn") == 1, F.struct("chunk_idx", "chunk"))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.count(F.when(F.col("rn") == 1, F.lit(1))).cast("bigint").alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x["chunk"]
                ),
                " ",
            ),
            F.lit(""),
        ).alias("scrubbed_text"),
    )


@query(
    "q102_embedding_decontamination",
    oracle=f"""
    WITH test_v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
    train_v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0),
    sims AS (
      SELECT t.vec_id,
             {_cos_sql('t.embedding', 'q.embedding')} AS cos_sim
      FROM train_v t CROSS JOIN test_v q
    )
    SELECT vec_id, MAX(cos_sim) AS max_test_sim, (MAX(cos_sim) >= 0.35) AS contaminated
    FROM sims GROUP BY 1
    """,
    doc="Embedding-space train/test decontamination, the semantic twin of "
    "q69's n-gram overlap check: every train vector scored by its max "
    "cosine to the (broadcast-size) test set; contaminated = a test "
    "item's semantic duplicate sits in train. Exact brute force over "
    "train×test — linear in train because the test side broadcasts, "
    "partial max per partition, one doc-keyed combine. When the test "
    "side outgrows a broadcast, prefilter candidates with the q45 LSH "
    "bands / q54 IVF cells and rerank exactly.",
)
def q102_embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _dot, _norm

    emb = load(spark, sf_dir, "embeddings")
    test_v = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("embedding").alias("__vq"),
        _norm(F.col("embedding")).alias("__nq"),
    )
    train_v = emb.filter(F.col("vec_id") % 10 != 0).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("__nt")
    )
    cos = _dot(F.col("embedding"), F.col("__vq")) / (
        F.col("__nt") * F.col("__nq")
    )
    return (
        train_v.crossJoin(F.broadcast(test_v))
        .select("vec_id", cos.alias("cos_sim"))
        .groupBy("vec_id")
        .agg(
            F.max("cos_sim").alias("max_test_sim"),
            (F.max("cos_sim") >= 0.35).alias("contaminated"),
        )
    )


@query(
    "q103_repeated_spans",
    oracle="""
    WITH g AS (
      SELECT doc_id, CASE WHEN length(text) >= 25 THEN
        list_transform(generate_series(1, length(text) - 24), i -> md5(substr(text, i, 25)))
        ELSE [] END AS grams
      FROM documents
    ),
    sel AS (
      SELECT doc_id,
        CASE
          WHEN len(grams) >= 8 THEN
            list_transform(generate_series(1, len(grams) - 7), j ->
              struct_pack(pos := CAST(j - 1 + list_position(grams[j:j+7], list_aggregate(grams[j:j+7], 'min')) AS INT),
                          fp := list_aggregate(grams[j:j+7], 'min')))
          WHEN len(grams) >= 1 THEN
            [struct_pack(pos := CAST(list_position(grams, list_aggregate(grams, 'min')) AS INT),
                         fp := list_aggregate(grams, 'min'))]
          ELSE CAST([] AS STRUCT(pos INT, fp VARCHAR)[])
        END AS anchors
      FROM g
    ),
    occ0 AS (
      SELECT DISTINCT doc_id, struct_extract(a, 'pos') AS pos, struct_extract(a, 'fp') AS fp
      FROM sel, LATERAL (SELECT unnest(anchors) AS a) u
    ),
    rep AS (SELECT fp FROM occ0 GROUP BY fp HAVING COUNT(*) >= 2),
    occ AS (SELECT doc_id, pos, pos + 25 AS e FROM occ0 JOIN rep USING (fp)),
    ranked AS (
      SELECT doc_id, pos, e,
        MAX(e) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM occ
    ),
    isl AS (
      SELECT doc_id, pos, e,
        SUM(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
      FROM ranked
    )
    SELECT doc_id,
      CAST(MIN(pos) AS BIGINT) AS span_start,
      CAST(MAX(e) AS BIGINT) AS span_end,
      CAST(MAX(e) - MIN(pos) AS BIGINT) AS span_len,
      CAST(COUNT(*) AS BIGINT) AS n_anchors
    FROM isl GROUP BY doc_id, island
    """,
    doc="Exact repeated-substring spans (Lee et al. 2022 span-granular "
    "dedup): char ranges covered by substrings occurring 2+ times "
    "anywhere in the corpus, overlapping hits merged to maximal spans "
    "via a gaps-and-islands window. Winnowing anchors (k=25, w=8) "
    "replace the suffix array: content-defined selection guarantees "
    "every repeat >= 32 chars shares an anchor fingerprint across its "
    "copies, so detection is alignment-robust; two key shuffles total "
    "and the text never shuffles.",
)
def q103_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import repeated_spans

    return repeated_spans(load(spark, sf_dir, "documents"), k=25, w=8, min_count=2)


@query(
    "q104_bpe_encode",
    # Derived-property oracle: token counts depend on the learned merge
    # sequence (iterative — q100), but per-doc losslessness (token
    # concatenation rebuilds the de-spaced text) and the token-count
    # bounds (words <= tokens <= chars) are exact invariants the oracle
    # pins alongside the SQL-derivable word count.
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           TRUE AS lossless,
           TRUE AS bounds_ok
    FROM documents
    """,
    doc="BPE corpus encoding with the q100-trained merges: whitespace "
    "words -> merged subword tokens via rank-ordered merge application "
    "(the trainer's own rule), Arrow-batched mapInPandas with a "
    "per-batch word cache so cost tracks distinct words per batch, not "
    "tokens. Scan-local — zero shuffles at any corpus size. Output "
    "carries per-doc lossless + bounds flags (token concatenation "
    "rebuilds the text exactly; word count <= token count <= char "
    "count) so the driver hash verifies round-trip integrity.",
)
def q104_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import encode_bpe, learn_bpe

    d = load(spark, sf_dir, "documents")
    merges = learn_bpe(d, n_merges=40)
    enc = encode_bpe(d, merges)
    joined = d.select("doc_id", "text").join(enc, "doc_id")
    n_tokens = F.size("tokens").cast("bigint")
    n_words_c = F.size(F.split(F.col("text"), " ")).cast("bigint")
    # The bound must count NON-EMPTY words: split() yields "" tokens for
    # consecutive/leading/trailing spaces (and [""] for empty text)
    # while the encoder skips them — raw-split counting would falsify
    # bounds_ok on any multi-space document even though the encoding is
    # correct. n_words stays the raw split count (it mirrors the
    # oracle's SQL-derivable column); only the invariant uses the
    # encoder's word definition.
    n_words_ne = F.size(
        F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    ).cast("bigint")
    n_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("bigint")
    return joined.select(
        "doc_id",
        n_words_c.alias("n_words"),
        (
            F.array_join("tokens", "")
            == F.replace(F.col("text"), F.lit(" "), F.lit(""))
        ).alias("lossless"),
        ((n_tokens >= n_words_ne) & (n_tokens <= n_chars)).alias("bounds_ok"),
    )


_Q103_SQL = _REG["q103_repeated_spans"].oracle


@query(
    "q105_span_scrub",
    oracle=f"""
    WITH spans AS ({_Q103_SQL}),
    j AS (
      SELECT d.doc_id, d.text, s.span_start, s.span_end,
             COALESCE(LAG(s.span_end) OVER (PARTITION BY d.doc_id ORDER BY s.span_start), 1)
               AS prev_end
      FROM documents d JOIN spans s ON d.doc_id = s.doc_id
    ),
    segs AS (
      SELECT doc_id,
             string_agg(substr(text, CAST(prev_end AS INT), CAST(span_start - prev_end AS INT)),
                        '' ORDER BY span_start) AS head,
             MAX(span_end) AS mx,
             COUNT(*) AS n_spans,
             SUM(span_end - span_start) AS removed
      FROM j GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN g.doc_id IS NULL THEN d.text
                ELSE COALESCE(g.head, '') || substr(d.text, CAST(g.mx AS INT)) END
             AS scrubbed_text,
           CAST(COALESCE(g.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(g.removed, 0) AS BIGINT) AS removed_chars
    FROM documents d LEFT JOIN segs g ON d.doc_id = g.doc_id
    """,
    doc="Repeated-span scrubbing — q103's transformation twin (the "
    "q89→q94 pattern at char grain): every doc rebuilt from the char "
    "segments BETWEEN its flagged spans (lag window turns the span "
    "list into cut points), docs with no spans pass through a left "
    "join untouched. Removal is all-copies (aggressive boilerplate "
    "strip); a keep-first variant composes q101's first-occurrence "
    "rule over anchor fingerprints instead. Adds one lag window and "
    "one doc-keyed join over q103 — the heavy text column rides only "
    "the final join, never the span pipeline.",
)
def q105_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.dedup import repeated_spans

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    spans = repeated_spans(load(spark, sf_dir, "documents"), k=25, w=8, min_count=2)
    j = spans.join(d, "doc_id")
    wv = Window.partitionBy("doc_id").orderBy("span_start")
    prev_end = F.coalesce(F.lag("span_end").over(wv), F.lit(1))
    seg = F.col("text").substr(
        prev_end.cast("int"), (F.col("span_start") - prev_end).cast("int")
    )
    g = (
        j.withColumn("prev_end", prev_end)
        .withColumn("seg", seg)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("span_start", "seg"))),
                    lambda x: x["seg"],
                ),
                "",
            ).alias("head"),
            F.max("span_end").alias("mx"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("span_end") - F.col("span_start")).alias("removed"),
        )
    )
    out = d.join(g, "doc_id", "left")
    scrubbed = F.when(F.col("mx").isNull(), F.col("text")).otherwise(
        F.concat(
            F.coalesce(F.col("head"), F.lit("")),
            F.col("text").substr(F.col("mx").cast("int"), F.length("text")),
        )
    )
    return out.select(
        "doc_id",
        scrubbed.alias("scrubbed_text"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce(F.col("removed"), F.lit(0)).cast("bigint").alias("removed_chars"),
    )


@query(
    "q106_sketch_quantiles",
    # Derived-property oracle (q62's pattern): KLL estimates are
    # approximate, so the checkable output is the exact per-type
    # percentiles plus booleans asserting each sketch read lands inside
    # the exact rank window q ± 0.025 (KLL k=200 => ~1.65% rank error;
    # p99's upper bound clamps to MAX).
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50_exact,
           quantile_cont(value, 0.9) AS p90_exact,
           quantile_cont(value, 0.99) AS p99_exact,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM events GROUP BY 1
    """,
    doc="Mergeable KLL quantile rollup — q97's pattern for percentiles: "
    "per-(day, event_type) KLL sketches (k=200, ~1.65% rank error, "
    "kilobytes each) are the persisted pre-aggregate; any later range "
    "or dimension fold merges sketches and reads p50/p90/p99 without "
    "rescanning raw history. The sketch answer to q52's exact "
    "percentiles, losslessly mergeable where q62's single-shot "
    "approx_percentile is not.",
)
def q106_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import build_quantile_sketches, merge_quantile_estimates

    e = load(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type", "value"
    )
    daily = build_quantile_sketches(e, ["day", "event_type"], "value")
    est = merge_quantile_estimates(daily, ["event_type"], (0.5, 0.9, 0.99))
    exact = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("p50_exact"),
        F.percentile("value", F.lit(0.9)).alias("p90_exact"),
        F.percentile("value", F.lit(0.99)).alias("p99_exact"),
        F.percentile("value", F.lit(0.475)).alias("__p50_lo"),
        F.percentile("value", F.lit(0.525)).alias("__p50_hi"),
        F.percentile("value", F.lit(0.875)).alias("__p90_lo"),
        F.percentile("value", F.lit(0.925)).alias("__p90_hi"),
        F.percentile("value", F.lit(0.965)).alias("__p99_lo"),
        F.max("value").alias("__p99_hi"),
    )
    return exact.join(est, "event_type").select(
        "event_type",
        "p50_exact",
        "p90_exact",
        "p99_exact",
        F.col("p5").between(F.col("__p50_lo"), F.col("__p50_hi")).alias("p50_ok"),
        F.col("p9").between(F.col("__p90_lo"), F.col("__p90_hi")).alias("p90_ok"),
        F.col("p99").between(F.col("__p99_lo"), F.col("__p99_hi")).alias("p99_ok"),
    )


@query(
    "q107_theta_retention",
    oracle="""
    WITH a AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-05'
    ),
    b AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-25'
    )
    SELECT (SELECT COUNT(*) FROM a) AS n_early_click,
           (SELECT COUNT(*) FROM b) AS n_late_purchase,
           (SELECT COUNT(*) FROM a JOIN b USING (user_id)) AS n_retained,
           (SELECT COUNT(*) FROM a WHERE user_id NOT IN (SELECT user_id FROM b))
             AS n_churned
    """,
    doc="Theta-sketch retention cohort: distinct users who clicked in "
    "the first 4 days INTERSECTED with distinct purchasers in the last "
    "6 — the set-algebra question (A∩B, A\\\\B across arbitrary range "
    "folds) HLL sketches cannot answer. One theta sketch per (day, "
    "type) is the pre-aggregate; both cohorts fold from it in a single "
    "conditional aggregate (null-skipping union), then intersection/"
    "difference run on two kilobyte sketches. Below the sketch's "
    "nominal 2^12 entries estimates are exact — the oracle checks "
    "exact equality at gate scale; beyond it the same plan degrades "
    "gracefully to ~1-2% error while the exact path would shuffle "
    "every distinct user.",
)
def q107_theta_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import build_theta_sketches

    e = load(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type", "user_id"
    )
    th = build_theta_sketches(e, ["day", "event_type"], "user_id")
    folded = th.agg(
        F.expr(
            "theta_union_agg(CASE WHEN event_type = 'click' AND day < TIMESTAMP '2024-01-05' THEN sketch END)"
        ).alias("a"),
        F.expr(
            "theta_union_agg(CASE WHEN event_type = 'purchase' AND day >= TIMESTAMP '2024-01-25' THEN sketch END)"
        ).alias("b"),
    )
    est = lambda x: F.expr(f"cast(round(theta_sketch_estimate({x})) as bigint)")  # noqa: E731
    return folded.select(
        est("a").alias("n_early_click"),
        est("b").alias("n_late_purchase"),
        est("theta_intersection(a, b)").alias("n_retained"),
        est("theta_difference(a, b)").alias("n_churned"),
    )


@query(
    "q108_temperature_mixture",
    oracle="""
    WITH c AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM documents GROUP BY 1),
    t AS (SELECT lang, n, sqrt(n) AS w FROM c),
    s AS (SELECT SUM(w) AS sw FROM t),
    p0 AS (SELECT lang, n, w / sw AS tgt FROM t CROSS JOIN s),
    sc AS (SELECT MIN(n / tgt) AS scale FROM p0),
    pr AS (SELECT lang, (scale * tgt) / n AS p FROM p0 CROSS JOIN sc)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN pr USING (lang)
    WHERE (CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12) AS BIGINT)
                AS DOUBLE) + 0.5) / 281474976710656.0 < pr.p
    """,
    doc="Temperature-scaled mixture sampling (T5/mT5 multilingual "
    "recipe, T=2): target shares proportional to sqrt(n_g) flatten the "
    "language mixture toward the tail; the rarest language binds and "
    "is kept whole, head languages thin deterministically. q83 with "
    "corpus-derived targets instead of literals — same two tiny "
    "aggregates + broadcast-probability scan, corpus never shuffles. "
    "sqrt is IEEE-correctly-rounded in every engine (pow is not), "
    "which is what makes the kept set hash-checkable cross-engine.",
)
def q108_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import temperature_mixture_sample

    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return temperature_mixture_sample(d, "lang", "doc_id", temperature=2.0).select(
        "doc_id", "lang", "source"
    )


@query(
    "q109_funnel",
    oracle="""
    WITH u1 AS (
      SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    u2 AS (
      SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN u1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > u1.t GROUP BY 1
    ),
    u3 AS (
      SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN u2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > u2.t GROUP BY 1
    ),
    c AS (
      SELECT 1 AS stage, 'view' AS step_name, (SELECT COUNT(*) FROM u1) AS n_users
      UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM u2)
      UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM u3)
    )
    SELECT CAST(stage AS INT) AS stage, step_name,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(n_users AS DOUBLE)
             / CAST(COALESCE(LAG(n_users) OVER (ORDER BY stage), n_users) AS DOUBLE)
             AS conversion
    FROM c
    """,
    doc="Ordered-event funnel (view -> click -> purchase), the "
    "ClickHouse-windowFunnel product-analytics staple: users counted "
    "at each stage they reached with every step strictly after the "
    "previous step's greedy-earliest match. Spark path is ONE shuffle "
    "— per-user time-sorted fold advancing a stage pointer — where "
    "the SQL chain (and the oracle) re-joins the event table once per "
    "step; fold ≡ min-chain by induction on greedy-earliest matching.",
)
def q109_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel_report

    e = load(spark, sf_dir, "events")
    return funnel_report(e, ["view", "click", "purchase"])


@query(
    "q110_cohort_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week FROM events GROUP BY 1
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(floor(date_diff('day', f.cohort_week, CAST(date_trunc('week', e.ts) AS DATE)) / 7) AS INT)
               AS week_offset
      FROM events e JOIN first_seen f USING (user_id)
    ),
    sizes AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM first_seen GROUP BY 1)
    SELECT a.cohort_week, a.week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(COUNT(*) AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention
    FROM activity a JOIN sizes s USING (cohort_week)
    GROUP BY a.cohort_week, a.week_offset, s.cohort_size
    """,
    doc="Weekly cohort retention matrix — the analytics companion to "
    "q18's MAW and q109's funnel: users cohorted by first-seen week, "
    "each later active week counted once per (cohort, offset) cell, "
    "normalized by cohort size. Two user-keyed aggregates + one "
    "cohort-keyed rollup; the events table shuffles once on user_id "
    "(first-seen), activity reuses that exchange, and the final matrix "
    "is (weeks x offsets) cells — serving-size no matter the corpus.",
)
def q110_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = (
        e.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
        .join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            (F.col("n_active").cast("double") / F.col("cohort_size").cast("double")).alias(
                "retention"
            ),
        )
    )


@query(
    "q121_bloom_decontamination",
    oracle="""
    WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id % 200 = 0),
    c AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 200 <> 0),
    btoks AS (SELECT string_split(text, ' ') AS w FROM b),
    bg AS (
      SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS gram
      FROM btoks, LATERAL (SELECT unnest(generate_series(1, len(w) - 7)) AS i) t
    ),
    ctoks AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM c),
    cg AS (
      SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram
      FROM ctoks, LATERAL (SELECT unnest(generate_series(1, len(w) - 7)) AS i) t
    ),
    cont AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (gram))
    SELECT c.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           CAST(SUM(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS contamination_rate
    FROM c LEFT JOIN cont ON cont.doc_id = c.doc_id
    GROUP BY c.lang
    """,
    doc="Benchmark decontamination with a broadcast Bloom prefilter "
    "(operators/bloom.py): the benchmark suite (doc_id % 200 = 0 here; "
    "MMLU-sized in production) compresses to a bitset literal evaluated "
    "INSIDE the corpus scan — zero corpus-side exchange — and exact "
    "broadcast semi-join verification removes Bloom false positives, so "
    "the result equals the exact overlap check the oracle computes. The "
    "asymmetric sibling of q69 (whose train side is itself corpus-scale).",
)
def q121_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_prefilter_contains
    from ..operators.textops import word_shingles

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    bench = docs.filter(F.col("doc_id") % 200 == 0)
    corpus = docs.filter(F.col("doc_id") % 200 != 0)
    bg = bench.select(F.explode(word_shingles(F.col("text"), k=8)).alias("gram"))
    cg = corpus.select(
        "doc_id", F.explode(word_shingles(F.col("text"), k=8)).alias("gram")
    )
    hits = (
        bloom_prefilter_contains(cg, bg)
        .select("doc_id")
        .distinct()
        .withColumn("is_cont", F.lit(1))
    )
    return (
        corpus.select("doc_id", "lang")
        .join(hits, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("is_cont"), F.lit(0))).alias("n_contaminated"),
            (
                F.sum(F.coalesce(F.col("is_cont"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("contamination_rate"),
        )
    )


@query(
    "q122_repetition_metrics",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (
      SELECT doc_id, 1 AS n, unnest(ws) AS gram FROM w
      UNION ALL
      SELECT doc_id, 2 AS n,
             unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i+1])) AS gram
      FROM w
      UNION ALL
      SELECT doc_id, 3 AS n,
             unnest(list_transform(range(1, len(ws) - 1),
                                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
      FROM w
    ),
    c AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
    p AS (SELECT doc_id, n, MAX(c) AS top, SUM(c) AS total,
                 SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
          FROM c GROUP BY 1, 2)
    SELECT d.doc_id AS doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
           CAST(p1.top AS DOUBLE) / p1.total AS top_word_frac,
           CAST(p1.dup AS DOUBLE) / p1.total AS dup_word_frac,
           CAST(p2.top AS DOUBLE) / p2.total AS top_bigram_frac,
           CAST(p2.dup AS DOUBLE) / p2.total AS dup_bigram_frac,
           CAST(p3.top AS DOUBLE) / p3.total AS top_trigram_frac,
           CAST(p3.dup AS DOUBLE) / p3.total AS dup_trigram_frac
    FROM documents d
    LEFT JOIN p p1 ON p1.doc_id = d.doc_id AND p1.n = 1
    LEFT JOIN p p2 ON p2.doc_id = d.doc_id AND p2.n = 2
    LEFT JOIN p p3 ON p3.doc_id = d.doc_id AND p3.n = 3
    """,
    doc="Gopher/MassiveText repetition filters (Rae et al. 2021 table A1, word "
    "granularity): per-doc most-frequent-n-gram coverage and duplicate-n-gram "
    "mass for n=1,2,3 — the curation signal that cuts boilerplate/spam whose "
    "top 2-gram covers >20% of the text. The multi-granularity one-pass "
    "generalization of q71 (which stays single-n for bench comparability): "
    "all three gram sizes ride ONE tagged explode and one count shuffle "
    "instead of three scans. Per-doc pivot over |docs|x3 rows; the text "
    "itself never shuffles (operators/textops.py:repetition_profile).",
)
def q122_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import repetition_profile

    return repetition_profile(load(spark, sf_dir, "documents"))


@query(
    "q123_oov_rate",
    oracle="""
    WITH u AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
    f AS (SELECT w, COUNT(*) AS c FROM u GROUP BY 1),
    v AS (SELECT w FROM f ORDER BY c DESC, w LIMIT 20)
    SELECT u.source AS source,
           CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS oov_rate
    FROM u LEFT JOIN v ON u.w = v.w
    GROUP BY u.source
    """,
    doc="Vocabulary coverage audit: build the deterministic top-20 frequency "
    "vocab (textops.build_vocab — rank by count desc, word asc) and measure "
    "the out-of-vocabulary token fraction per source. The tokenizer-budget "
    "sizing signal a training exporter checks before committing a vocab. "
    "Vocab is driver-scale and broadcast; the corpus is one scan + explode "
    "with map-side combine into the per-source aggregate — no corpus shuffle.",
)
def q123_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import build_vocab

    d = load(spark, sf_dir, "documents")
    vocab = build_vocab(d, size=20).select("word")
    toks = d.select("source", F.explode(words(F.col("text"))).alias("word"))
    return (
        toks.join(F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "word", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("total_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("oov_tokens"),
            (
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
    )


def _gram_branch_sql(n: int) -> str:
    if n == 1:
        return "SELECT 1 AS n, unnest(ws) AS gram FROM w"
    concat = " || ' ' || ".join(f"ws[i+{j}]" if j else "ws[i]" for j in range(n))
    return (
        f"SELECT {n} AS n, unnest(list_transform(range(1, len(ws) - {n - 2}), "
        f"i -> {concat})) AS gram FROM w"
    )


@query(
    "q124_gram_cardinality",
    # Derived-property oracle (q97's pattern): the HLL register blob has
    # no DuckDB twin, so the checkable output is the exact per-n distinct
    # gram count plus an in-query boolean asserting the one-pass
    # approx_count_distinct estimate lands within 5% of it.
    oracle="""
    WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
    g AS (
      """
    + "\n      UNION ALL\n      ".join(_gram_branch_sql(n) for n in (1, 2, 3, 5, 8))
    + """
    )
    SELECT n, CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct_exact,
           TRUE AS approx_ok
    FROM g GROUP BY 1
    """,
    doc="Heaps-law gram-cardinality audit: distinct word n-gram counts for "
    "n in {1,2,3,5,8} — the corpus statistic that sizes every downstream "
    "curation structure (MinHash band tables, the q121 Bloom bitset, vocab "
    "budgets, shingle df-cuts). The scale path is approx_count_distinct "
    "(HLL++, fixed kilobytes per group, one tagged-explode pass, "
    "partition-order independent); the exact countDistinct column exists "
    "for the oracle and the 5%-error boolean the estimate must satisfy.",
)
def q124_gram_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import word_shingles

    d = load(spark, sf_dir, "documents")
    ns = (1, 2, 3, 5, 8)
    w = words(F.col("text"))

    def tagged(n: int):
        grams = w if n == 1 else word_shingles(F.col("text"), n)
        return F.transform(grams, lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")))

    ex = d.select(F.explode(F.flatten(F.array(*[tagged(n) for n in ns]))).alias("t"))
    per_n = ex.groupBy(F.col("t.n").alias("n")).agg(
        F.count_distinct(F.col("t.g")).alias("n_distinct_exact"),
        F.approx_count_distinct(F.col("t.g"), rsd=0.02).alias("est"),
    )
    err = F.abs(F.col("est") - F.col("n_distinct_exact")).cast("double")
    return per_n.select(
        "n",
        "n_distinct_exact",
        (err <= 0.05 * F.col("n_distinct_exact").cast("double")).alias("approx_ok"),
    )


@query(
    "q125_contamination_coverage",
    oracle="""
    WITH bench AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE doc_id % 200 = 0
    ),
    bg AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(ws) - 6),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                      || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6]
                      || ' ' || ws[i+7])) AS gram
      FROM bench
    ),
    corpus AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE doc_id % 200 <> 0
    ),
    cg AS (
      SELECT DISTINCT
             unnest(list_transform(range(1, len(ws) - 6),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                      || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6]
                      || ' ' || ws[i+7])) AS gram
      FROM corpus
    )
    SELECT bg.doc_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(cg.gram) AS BIGINT) AS n_matched,
           CAST(COUNT(cg.gram) AS DOUBLE) / COUNT(*) AS coverage_frac
    FROM bg LEFT JOIN cg ON bg.gram = cg.gram
    GROUP BY 1
    """,
    doc="Contamination COVERAGE — q121's quantitative companion: per "
    "benchmark document (doc_id % 200 = 0 stands in for the eval suite), "
    "the fraction of its distinct word-8-grams that appear anywhere in "
    "the training corpus. The binary verdict (q121) gates admission; this "
    "measures severity — the Brown et al. 2020 appendix-C style overlap "
    "statistic that decides between dropping a benchmark doc and merely "
    "flagging it. Scale shape mirrors operators/bloom.py's verify leg: "
    "the benchmark gram set is driver/broadcast-scale by definition, the "
    "corpus is ONE scan-side explode joined against that broadcast — "
    "only MATCHED grams (bounded by the benchmark size, not the corpus) "
    "reach the distinct + per-doc rollup, and the corpus itself never "
    "shuffles.",
)
def q125_contamination_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import word_shingles

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 200 == 0)
    corpus = docs.filter(F.col("doc_id") % 200 != 0)
    bg = bench.select(
        "doc_id", F.explode(word_shingles(F.col("text"), k=8)).alias("gram")
    ).distinct()
    cg = corpus.select(F.explode(word_shingles(F.col("text"), k=8)).alias("gram"))
    matched = (
        cg.join(F.broadcast(bg), "gram")
        .select("doc_id", "gram")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matched"))
    )
    totals = bg.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"))
    return (
        totals.join(matched, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_matched"), F.lit(0)).cast("bigint").alias("n_matched"),
            (
                F.coalesce(F.col("n_matched"), F.lit(0)).cast("double")
                / F.col("n_grams")
            ).alias("coverage_frac"),
        )
    )


@query(
    "q126_char_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ),
    c AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2),
    t AS (SELECT doc_id, SUM(c) AS n FROM c GROUP BY 1)
    SELECT c.doc_id AS doc_id,
           CAST(t.n AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
           CAST(-SUM(CAST((CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))
                          * ln(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))
                       AS DECIMAL(38, 12))) AS DOUBLE) AS entropy_nats
    FROM c JOIN t ON c.doc_id = t.doc_id
    GROUP BY 1, t.n
    """,
    doc="Character-level Shannon entropy per document (nats) — the "
    "gibberish/encoded-blob detector word-level metrics miss: base64 "
    "dumps and minified blobs sit near the uniform-alphabet ceiling "
    "(ln of alphabet size), templated spam sits far below prose. The "
    "natural-language band is the keep window (the CCNet/RedPajama "
    "signal family). Cross-engine float discipline follows q76: each "
    "per-character term p*ln(p) computes in double (ln is bit-portable "
    "here, q76-proven), casts to DECIMAL(38,12) BEFORE the per-doc sum "
    "so partition order can't move the hash, and only the final negated "
    "total returns to double. Two char-keyed aggregates with map-side "
    "partials; the text never shuffles.",
)
def q126_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import DecimalType

    d = load(spark, sf_dir, "documents")
    chars = d.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
    cnt = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term = (p * F.log(p)).cast(DecimalType(38, 12))
    return (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id", "n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars"),
            (-F.sum(term)).cast("double").alias("entropy_nats"),
        )
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_chars"),
            "n_distinct_chars",
            "entropy_nats",
        )
    )


@query(
    "q127_gram_cardinality_hll",
    # Derived-property oracle, q97's pattern adapted for a query whose
    # POINT is not computing the exact count (q124 keeps the exact
    # countDistinct audit; this is the production shape the headline
    # bench times). Three pins the oracle can reproduce exactly: the
    # per-n gram POSITION count (an exact SUM — map-side, no distinct
    # shuffle), the decade band floor(log10) of the cardinality (the
    # exact count sits >= 7% from every power-of-10 boundary at all
    # fixture SFs while q124's gate proves the HLL error <= 5%, so the
    # estimate's band equals the exact band), and distinct <= positions
    # with the same 5% slack. A broken sketch (stuck registers, wrong
    # merge) moves est by far more than a band.
    oracle="""
    WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
    g AS (
      """
    + "\n      UNION ALL\n      ".join(_gram_branch_sql(n) for n in (1, 2, 3, 5, 8))
    + """
    )
    SELECT n,
           CAST(COUNT(*) AS BIGINT) AS n_positions,
           CAST(FLOOR(LOG10(CAST(COUNT(DISTINCT gram) AS DOUBLE))) AS BIGINT)
             AS est_decade,
           TRUE AS est_le_positions
    FROM g GROUP BY 1
    """,
    doc="Heaps-law gram cardinality, PRODUCTION form: one tagged-explode "
    "pass over the corpus, approx_count_distinct (HLL++, rsd=0.02 — "
    "fixed kilobytes of state per n, map-side partial merge) and an "
    "exact position SUM; NO exact countDistinct anywhere in the plan. "
    "q124 is this query's audit twin: its registered form carries the "
    "exact count so the 5%-error boolean is under the driver hash, at "
    "the price of a second distinct-shuffle the production path never "
    "pays (10x-scale: 6.9x for the audit form vs ~2x for this one — "
    "PERFORMANCE.md). Register both so the bench times the shape a "
    "100 TB corpus would actually run.",
)
def q127_gram_cardinality_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import word_shingles

    d = load(spark, sf_dir, "documents")
    ns = (1, 2, 3, 5, 8)
    w = words(F.col("text"))

    def tagged(n: int):
        grams = w if n == 1 else word_shingles(F.col("text"), n)
        return F.transform(grams, lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")))

    ex = d.select(F.explode(F.flatten(F.array(*[tagged(n) for n in ns]))).alias("t"))
    per_n = ex.groupBy(F.col("t.n").alias("n")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_positions"),
        F.approx_count_distinct(F.col("t.g"), rsd=0.02).alias("est"),
    )
    return per_n.select(
        "n",
        "n_positions",
        F.floor(F.log10(F.col("est").cast("double"))).cast("bigint").alias("est_decade"),
        (
            F.col("est").cast("double")
            <= 1.05 * F.col("n_positions").cast("double")
        ).alias("est_le_positions"),
    )


@query(
    "q128_cross_doc_spans",
    # The DuckDB twin implements the whole algorithm independently:
    # q103's winnowing-selection SQL (md5 grams, window-of-8 min,
    # first-occurrence ties) for the anchors, a relational df-cut +
    # pair join for the seeds, and maximal extension as the largest
    # l/r whose substrings match (contiguous char equality is monotone
    # in length, so max-over-generate_series IS the char-by-char
    # growth). Planted spans make the expected output constructive:
    # every doc_id % 25 == 0 donates its last 120 chars and its
    # successor's first 120 chars to a synthetic doc, so known
    # >=120-char cross-doc spans exist by construction alongside the
    # fixture's natural duplicate docs.
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents),
    planted AS (
      -- plant ids sit in a band disjoint from real ids by construction
      -- (max(doc_id)+1 offset, round-7 ADVICE fix: a fixed +100000
      -- would collide once the corpus carries >=100k ids, and both
      -- engines would drift identically so the gate couldn't catch it)
      SELECT a.doc_id + (SELECT MAX(doc_id) + 1 FROM d) AS doc_id,
             substr(a.text, length(a.text) - 119, 120) || ' ' || substr(b.text, 1, 120) AS text
      FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 25 = 0 AND length(a.text) >= 120 AND length(b.text) >= 120
    ),
    corpus AS (SELECT * FROM d UNION ALL SELECT * FROM planted),
    g AS (
      SELECT doc_id, text, CASE WHEN length(text) >= 25 THEN
        list_transform(generate_series(1, length(text) - 24), i -> md5(substr(text, i, 25)))
        ELSE [] END AS grams
      FROM corpus
    ),
    sel AS (
      SELECT doc_id,
        CASE
          WHEN len(grams) >= 8 THEN
            list_transform(generate_series(1, len(grams) - 7), j ->
              struct_pack(pos := CAST(j - 1 + list_position(grams[j:j+7], list_aggregate(grams[j:j+7], 'min')) AS INT),
                          fp := list_aggregate(grams[j:j+7], 'min')))
          WHEN len(grams) >= 1 THEN
            [struct_pack(pos := CAST(list_position(grams, list_aggregate(grams, 'min')) AS INT),
                         fp := list_aggregate(grams, 'min'))]
          ELSE CAST([] AS STRUCT(pos INT, fp VARCHAR)[])
        END AS anchors
      FROM g
    ),
    occ AS (
      SELECT DISTINCT doc_id, struct_extract(a, 'pos') AS pos, struct_extract(a, 'fp') AS fp
      FROM sel, LATERAL (SELECT unnest(anchors) AS a) u
    ),
    eligible AS (
      SELECT fp FROM occ
      GROUP BY fp
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 8 AND COUNT(*) <= 64
    ),
    seeds AS (
      SELECT a.doc_id AS a_doc, a.pos AS apos, b.doc_id AS b_doc, b.pos AS bpos
      FROM occ a JOIN occ b USING (fp) JOIN eligible USING (fp)
      WHERE a.doc_id < b.doc_id
    ),
    ext AS (
      SELECT s.a_doc, s.b_doc, s.apos, s.bpos, ta.text AS a_text, tb.text AS b_text
      FROM seeds s JOIN corpus ta ON ta.doc_id = s.a_doc JOIN corpus tb ON tb.doc_id = s.b_doc
    ),
    spans0 AS (
      SELECT a_doc, b_doc, apos, bpos, a_text,
        list_max(list_filter(generate_series(0, least(apos, bpos) - 1),
          l -> substr(a_text, apos - l, l) = substr(b_text, bpos - l, l))) AS lx,
        list_max(list_filter(generate_series(0, least(length(a_text) - apos, length(b_text) - bpos) + 1),
          r -> substr(a_text, apos, r) = substr(b_text, bpos, r))) AS rx
      FROM ext
    )
    SELECT DISTINCT a_doc, b_doc,
      CAST(apos - lx AS BIGINT) AS a_start, CAST(apos + rx AS BIGINT) AS a_end,
      CAST(bpos - lx AS BIGINT) AS b_start, CAST(bpos + rx AS BIGINT) AS b_end,
      CAST(lx + rx AS BIGINT) AS span_len,
      md5(substr(a_text, apos - lx, lx + rx)) AS span_md5
    FROM spans0 WHERE lx + rx >= 80
    """,
    doc="Cross-document exact substring mining (Lee et al. 2022 beyond "
    "fixed-k shingles, VERDICT r5 task 6): maximal shared char spans "
    ">= 80 between doc pairs, suffix-array-free — winnowing anchors "
    "(k=25, w=8: every shared substring >= 32 chars seeds at the same "
    "relative offset in both copies) -> distinct-doc df-cut in [2,8] "
    "(the hot-gram guard; never all-pairs) -> one groupBy + bounded "
    "bucket explode for seed pairs -> texts join the BOUNDED seed set "
    "-> Arrow-batched char-exact growth to maximality -> distinct. "
    "The corpus carries constructed plants (20 synthetic docs splicing "
    "120-char slices of two fixture docs) so the expected spans are "
    "known by construction; the fixture's natural duplicate docs "
    "surface as full-length spans alongside. operators/dedup.py::"
    "cross_doc_spans.",
)
def q128_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import cross_doc_spans

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    nxt = d.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("__next_text")
    )
    # Disjoint plant-id band: offset by max(doc_id)+1 (round-7 ADVICE
    # fix — a fixed +100000 collides once real ids reach 100k, and the
    # oracle drifted identically so the gate couldn't see it). The max
    # is a 1-row aggregate broadcast onto the bounded planted set.
    mx = d.agg((F.max("doc_id") + 1).alias("__plant_base"))
    planted = (
        d.join(nxt, "doc_id")
        .filter(
            (F.col("doc_id") % 25 == 0)
            & (F.length("text") >= 120)
            & (F.length("__next_text") >= 120)
        )
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("doc_id") + F.col("__plant_base")).alias("doc_id"),
            F.concat(
                F.expr("substr(text, length(text) - 119, 120)"),
                F.lit(" "),
                F.expr("substr(__next_text, 1, 120)"),
            ).alias("text"),
        )
    )
    corpus = d.unionByName(planted)
    # share_candidate_text: this corpus is a DERIVED frame (base ∪ a
    # plant self-join) — replaying its construction once per text-join
    # side costs more than caching the bounded candidate text (r12 A/B
    # 5.0 -> 3.1 s; the operator default stays off because a plain
    # parquet corpus measured the other way at 100x — see the operator
    # comment + scripts/bench_cross_doc_scale100.py).
    return cross_doc_spans(
        corpus, k=25, w=8, min_len=80, max_fp_docs=8, share_candidate_text=True
    )


@query(
    "q134_quality_classifier",
    oracle="""
    WITH toksrc AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    feats AS (
      SELECT doc_id, source, f FROM toksrc, LATERAL (
        SELECT unnest(list_concat(w,
          CASE WHEN len(w) > 1
               THEN list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1])
               ELSE [] END)) AS f) t
    ),
    hashed AS (
      SELECT doc_id, source IN ('src0','src1','src2','src3') AS pos,
             CAST((strpos('0123456789abcdef', substr(md5(f),1,1)) - 1) * 16
                + strpos('0123456789abcdef', substr(md5(f),2,1)) - 1 AS INT) AS bucket
      FROM feats
    ),
    counts AS (
      SELECT bucket,
             COUNT(CASE WHEN pos THEN 1 END) AS pos_cnt,
             COUNT(CASE WHEN NOT pos THEN 1 END) AS neg_cnt
      FROM hashed GROUP BY 1
    ),
    tot AS (SELECT SUM(pos_cnt) AS pos_tot, SUM(neg_cnt) AS neg_tot FROM counts),
    dense AS (
      SELECT g.bucket, COALESCE(pos_cnt, 0) AS pos_cnt, COALESCE(neg_cnt, 0) AS neg_cnt
      FROM (SELECT unnest(range(256)) AS bucket) g
      LEFT JOIN counts ON g.bucket = counts.bucket
    ),
    wts AS (
      SELECT bucket,
             CAST(ln((CAST(pos_cnt AS DOUBLE) + 1) / (CAST(pos_tot AS DOUBLE) + 256))
                - ln((CAST(neg_cnt AS DOUBLE) + 1) / (CAST(neg_tot AS DOUBLE) + 256))
               AS DECIMAL(38,12)) AS weight
      FROM dense CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_features,
           CAST(CAST(SUM(weight) AS DOUBLE) / COUNT(*) AS DOUBLE) AS clf_score,
           (CAST(CAST(SUM(weight) AS DOUBLE) / COUNT(*) AS DOUBLE) > 0) AS keep
    FROM hashed JOIN wts USING (bucket)
    GROUP BY 1
    """,
    doc="Hashed-feature quality classifier (the fasttext/CCNet model "
    "filter; the 100 TB form q98's docstring promises): unigram+bigram "
    "features hashed into 256 buckets (hash_bucket — md5 first byte, "
    "engine-portable), add-one log-odds weights learned from a "
    "seed-source weak label in ONE conditional aggregate (map-side "
    "combine collapses each partition to <=256 rows), then every doc "
    "scored against the 2 KB model. This registered form scores via "
    "the 256-row broadcast join so the oracle replicates it literally; "
    "the production twin (operators/quality_model.py::"
    "score_hashed_local) scores scan-local from a literal weight array "
    "— zero shuffle, zero join — and tests/test_datapipe.py pins the "
    "two equal row-for-row (decimal model values make both sums "
    "order-free exact). ln args are bounded (256 buckets x 2), per the "
    "q73 last-ulp rule.",
)
def q134_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality_model import (
        featurized_doc_state,
        learn_log_odds_from_state,
        score_hashed_from_state,
    )

    d = load(spark, sf_dir, "documents")
    pos = F.col("source").isin("src0", "src1", "src2", "src3")
    # r12 scan fusion (guide §1.2): learn + score both replay from ONE
    # text scan's per-doc feature histograms (state) instead of each
    # featurizing the corpus — counts and decimal sums are exactly the
    # occurrence-level ones, so weights and scores are byte-identical
    # to learn_log_odds + score_hashed (pinned by test + oracle).
    state = featurized_doc_state(d, pos, passthrough_cols=())
    weights = learn_log_odds_from_state(state)
    return score_hashed_from_state(state, weights)


@query(
    "q135_hard_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS qlabel, embedding AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    c AS (SELECT vec_id AS neighbor_id, label AS neighbor_label, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id, neighbor_label,
             {_cos_sql('qv', 'cv')} AS cos_sim
      FROM c, q WHERE neighbor_label <> qlabel
    )
    SELECT query_id, neighbor_id, neighbor_label, cos_sim, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
      FROM scored
    ) t WHERE rank <= 10
    """,
    doc="Hard-negative mining for contrastive training: per anchor "
    "(5 probe vectors), the top-10 most-similar embeddings with a "
    "DIFFERENT label — the near-miss negatives a contrastive or "
    "reranker objective learns most from. q44's physical shape "
    "(anchors broadcast, corpus streams once, WindowGroupLimit top-k) "
    "with the label disequality pushed into the stream BEFORE the "
    "O(dim) dot product. Exact-parity safe with no decimal discipline: "
    "cosine is +,*,/,sqrt only, all correctly-rounded IEEE. "
    "operators/similarity.py::hard_negative_topk.",
)
def q135_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import hard_negative_topk

    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    return hard_negative_topk(emb, probes, k=10, query_id_col="query_id")


@query(
    "q136_bigram_lm_score",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    uni AS (
      SELECT u.term AS w, COUNT(*) AS c1
      FROM toks, LATERAL (SELECT unnest(w) AS term) u GROUP BY 1
    ),
    tot AS (SELECT SUM(c1) AS n_tokens FROM uni),
    big AS (
      SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) t
      WHERE len(w) > 1
    ),
    bgc AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
    top AS (
      SELECT w1, w2, c12 FROM (
        SELECT *, row_number() OVER (ORDER BY c12 DESC, w1, w2) AS rk FROM bgc
      ) WHERE rk <= 512
    ),
    blp AS (
      SELECT w1, w2,
             CAST(ln(CAST(c12 AS DOUBLE) / CAST(u.c1 AS DOUBLE)) AS DECIMAL(38,6)) AS lp
      FROM top JOIN uni u ON top.w1 = u.w
    ),
    ulp AS (
      SELECT w AS w2,
             CAST(ln(0.4 * (CAST(c1 AS DOUBLE) / CAST(n_tokens AS DOUBLE))) AS DECIMAL(38,6)) AS blp
      FROM uni CROSS JOIN tot
    ),
    terms AS (
      SELECT doc_id, COALESCE(lp, ulp.blp) AS t,
             CASE WHEN lp IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM big LEFT JOIN blp USING (w1, w2) JOIN ulp USING (w2)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(hit) AS BIGINT) AS n_context_hits,
           CAST(CAST(SUM(t) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_logprob
    FROM terms GROUP BY 1
    """,
    doc="Backoff bigram LM quality score (the KenLM-style perplexity "
    "filter WITH context; q76 is the order-blind unigram baseline): "
    "top-512 bigram contexts get ln(c12/c1), everything else backs off "
    "to ln(0.4 * c2/N) — Katz shape, fixed backoff mass. The capped "
    "context table is the point at 100 TB: the model is a bounded "
    "artifact that BROADCASTS (scoring never joins the corpus against "
    "its own O(corpus)-row bigram table), and every ln argument comes "
    "from a bounded set (512 ratios + one per distinct unigram count) "
    "rounded to DECIMAL(38,6) once at the MODEL level — the q73 "
    "last-ulp rule, an order tighter than q76's per-(doc,term) "
    "rounding. An unbounded interpolated form ln(l*p12+(1-l)*p2) "
    "CANNOT hash-match DuckDB at scale (measured this round: JVM "
    "Math.log differs from libm in the last ulp on ~7% of arbitrary "
    "doubles, 36/500 docs diverged at sf0.001). "
    "operators/quality_model.py::learn_backoff_bigram/"
    "score_backoff_bigram.",
)
def q136_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality_model import learn_backoff_bigram, score_backoff_bigram

    d = load(spark, sf_dir, "documents")
    bigram_lp, unigram_lp = learn_backoff_bigram(d)
    return score_backoff_bigram(d, bigram_lp, unigram_lp)


@query(
    "q137_curation_model_pipeline",
    # q131's end-to-end staged oracle + q134's classifier CTEs, composed:
    # the model gate slots after the TTR gate in the CASE (CCNet order —
    # dedup first, model filter last), and the rollup gains
    # n_model_dropped.
    oracle="""
    WITH RECURSIVE
    base AS (
      SELECT doc_id, text, source,
             ROW_NUMBER() OVER (
               PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))
               ORDER BY doc_id
             ) AS rn
      FROM documents
    ),
    s1 AS (SELECT doc_id, text FROM base WHERE rn = 1),
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM s1),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) t
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
    ),
    drops2 AS (
      SELECT u AS doc_id FROM reach GROUP BY u HAVING u <> least(u, MIN(v))
    ),
    alltoks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
    feats AS (
      SELECT doc_id, source, f FROM alltoks, LATERAL (
        SELECT unnest(list_concat(w,
          CASE WHEN len(w) > 1
               THEN list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1])
               ELSE [] END)) AS f) t
    ),
    hashed AS (
      SELECT doc_id, source IN ('src0','src1','src2','src3') AS pos,
             CAST((strpos('0123456789abcdef', substr(md5(f),1,1)) - 1) * 16
                + strpos('0123456789abcdef', substr(md5(f),2,1)) - 1 AS INT) AS bucket
      FROM feats
    ),
    counts AS (
      SELECT bucket,
             COUNT(CASE WHEN pos THEN 1 END) AS pos_cnt,
             COUNT(CASE WHEN NOT pos THEN 1 END) AS neg_cnt
      FROM hashed GROUP BY 1
    ),
    tot AS (SELECT SUM(pos_cnt) AS pos_tot, SUM(neg_cnt) AS neg_tot FROM counts),
    dense AS (
      SELECT g.bucket, COALESCE(pos_cnt, 0) AS pos_cnt, COALESCE(neg_cnt, 0) AS neg_cnt
      FROM (SELECT unnest(range(256)) AS bucket) g
      LEFT JOIN counts ON g.bucket = counts.bucket
    ),
    wts AS (
      SELECT bucket,
             CAST(ln((CAST(pos_cnt AS DOUBLE) + 1) / (CAST(pos_tot AS DOUBLE) + 256))
                - ln((CAST(neg_cnt AS DOUBLE) + 1) / (CAST(neg_tot AS DOUBLE) + 256))
               AS DECIMAL(38,12)) AS weight
      FROM dense CROSS JOIN tot
    ),
    clf AS (
      SELECT doc_id,
             CAST(CAST(SUM(weight) AS DOUBLE) / COUNT(*) AS DOUBLE) AS clf_score
      FROM hashed JOIN wts USING (bucket)
      GROUP BY 1
    ),
    staged AS (
      SELECT b.source,
             len(string_split(b.text, ' ')) AS nw,
             CASE WHEN b.rn > 1 THEN 'exact_dup'
                  WHEN d2.doc_id IS NOT NULL THEN 'near_dup'
                  WHEN b.text IS NULL
                       OR CAST(len(list_distinct(string_split(b.text, ' '))) AS DOUBLE)
                          / len(string_split(b.text, ' ')) < 0.3 THEN 'low_quality'
                  WHEN c.clf_score <= 0 THEN 'model_filtered'
                  ELSE 'kept' END AS stage
      FROM base b LEFT JOIN drops2 d2 USING (doc_id) LEFT JOIN clf c USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_input,
           CAST(SUM(CASE WHEN stage = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dropped,
           CAST(SUM(CASE WHEN stage = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup_dropped,
           CAST(SUM(CASE WHEN stage = 'low_quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_dropped,
           CAST(SUM(CASE WHEN stage = 'model_filtered' THEN 1 ELSE 0 END) AS BIGINT) AS n_model_dropped,
           CAST(SUM(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN stage = 'kept' THEN nw ELSE 0 END) AS BIGINT) AS kept_words
    FROM staged GROUP BY source
    """,
    doc="q131's curation recipe with the round-8 model gate composed in "
    "(CCNet order: dedup -> heuristic quality -> frozen classifier): "
    "the hashed log-odds model is learned once from the seed-source "
    "weak label, frozen via collect_weights, and scored SCAN-LOCAL in "
    "the same projection as the TTR metric — the composition adds ZERO "
    "exchanges to q131's plan (pinned by test_curation_model_stage_"
    "composes_with_correct_precedence) and ZERO extra text movement. "
    "Stage attribution stays sequential: model_filtered applies only "
    "to docs every earlier stage kept. The streaming twin threads the "
    "same frozen array through curation_sink(model_weights=...). "
    "operators/curation.py::curation_stages + "
    "operators/quality_model.py.",
)
def q137_curation_model_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import (
        curation_doc_state,
        curation_report,
        curation_stages,
    )
    from ..operators.quality_model import collect_weights, learn_log_odds_from_state

    d = load(spark, sf_dir, "documents")
    # r12 scan fusion (guide §1.2): ONE text scan builds the shared
    # per-doc state (metrics + fingerprint + feature histogram); the
    # training weights aggregate from the state's histograms (identical
    # integer counts -> identical weights) and curation_stages projects
    # its metrics/fingerprint/score off the same state — the composition
    # reads the corpus twice (state + near-dup survivor shingles) where
    # it read it three times before. Output is byte-identical (pinned
    # by test_q137_fused_state_byte_identical + the oracle).
    state = curation_doc_state(
        d, F.col("source").isin("src0", "src1", "src2", "src3")
    )
    w = collect_weights(learn_log_odds_from_state(state))
    stages = curation_stages(
        d, min_ttr=0.3, num_hashes=64, bands=16, threshold=0.5,
        model_weights=w, model_threshold=0.0, doc_state=state,
    )
    return curation_report(stages, include_model=True)


@query(
    "q138_tf_cosine_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, u.term AS term
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           LATERAL (SELECT unnest(w) AS term) u
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dft AS (
      SELECT term FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
      WHERE df BETWEEN 2 AND 64
    ),
    kept AS (SELECT tf.* FROM tf JOIN dft USING (term)),
    norms AS (SELECT doc_id, SUM(tf*tf) AS ss FROM kept GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.tf*b.tf) AS dot
      FROM kept a JOIN kept b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(dot AS DOUBLE)
             / (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))) AS cos_sim
    FROM dots JOIN norms na ON na.doc_id = doc_a
              JOIN norms nb ON nb.doc_id = doc_b
    WHERE CAST(dot AS DOUBLE)
            / (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))) >= 0.6
    """,
    doc="Term-frequency cosine near-dup pairs (inverted index + df-cut "
    "[2,64], threshold 0.6): the count-weighted, ORDER-BLIND sibling "
    "of q41's k-gram Jaccard — catches reorderings and template "
    "instantiations whose 3-gram overlap is destroyed (property-pinned "
    "in tests: a word-shuffled duplicate scores ~1.0 here and produces "
    "NO q41 pair). Posting lists bounded at df_max BEFORE the "
    "self-join (the q41 d^2/2 rule), so candidate generation stays "
    "linear in corpus tokens at 100 TB; norms are over the same cut "
    "space, making the score the exact cosine of the cut vectors. "
    "Cross-engine exact with NO decimal discipline: integer dot/norm "
    "sums, then +,*,/,sqrt only. operators/dedup.py::tf_cosine_pairs.",
)
def q138_tf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import tf_cosine_pairs

    return tf_cosine_pairs(load(spark, sf_dir, "documents"))


@query(
    "q139_hard_negatives_ivf",
    oracle=_ANN_AUDIT_ORACLE,
    doc="IVF-accelerated hard-negative mining (the scale path q135's "
    "docstring promises): 16-cell coarse quantizer, n_probe=8, the "
    "label disequality pushed into the cell-join stream BEFORE the "
    "O(dim) dot product — not post-filtered from an unlabeled top-k, "
    "which silently starves anchors whose nearest neighbors share "
    "their label. Audited per-anchor against the exact q135 form "
    "(recall floor 0.8, pinned TRUE by the derived oracle; recall and "
    "result counts are what survive cross-engine — index internals "
    "don't). operators/similarity.py::ivf_hard_negatives.",
)
def q139_hard_negatives_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        ann_recall_audit,
        hard_negative_topk,
        ivf_hard_negatives,
    )

    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    ann = ivf_hard_negatives(
        emb, probes, dim=EMBED_DIM, k=10, n_centroids=16, n_probe=8
    )
    exact = hard_negative_topk(emb, probes, k=10, query_id_col="query_id")
    return ann_recall_audit(ann, exact, min_recall=0.8)


@query(
    "q140_epoch_shuffle",
    oracle="""
    WITH k AS (
      SELECT doc_id,
             md5('3:' || CAST(doc_id AS VARCHAR)) AS key
      FROM documents
    )
    SELECT doc_id,
           CAST((strpos('0123456789abcdef', substr(key, 1, 1)) - 1) * 16
              + strpos('0123456789abcdef', substr(key, 2, 1)) - 1 AS INT) % 64 AS shard,
           CAST(row_number() OVER (
             PARTITION BY CAST((strpos('0123456789abcdef', substr(key, 1, 1)) - 1) * 16
                + strpos('0123456789abcdef', substr(key, 2, 1)) - 1 AS INT) % 64
             ORDER BY key
           ) - 1 AS BIGINT) AS pos
    FROM k
    """,
    doc="Per-epoch deterministic shuffle plan (epoch 3, 64 shards): the "
    "loader-facing (doc, shard, pos) assignment multi-epoch training "
    "needs — a DIFFERENT pseudo-random permutation each epoch "
    "(md5-salted with the epoch), reproducible run-to-run so crashed "
    "jobs resume mid-epoch and data-parallel readers agree without "
    "coordination. q64's hash_split keys membership; this keys ORDER. "
    "Shards from the salted-hash prefix (balanced under any id skew), "
    "pos ranked within shard by the full hash — one per-shard window, "
    "64-way parallel, never a global sort. "
    "operators/sampling.py::epoch_shard_plan.",
)
def q140_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import epoch_shard_plan

    return epoch_shard_plan(
        load(spark, sf_dir, "documents"), "doc_id", epoch=3, n_shards=64
    )


@query(
    "q141_source_caps",
    oracle="""
    SELECT doc_id, source, distinct_words, group_rank FROM (
      SELECT doc_id, source,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS distinct_words,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY len(list_distinct(string_split(text, ' '))) DESC, doc_id
             ) AS BIGINT) AS group_rank
      FROM documents
    ) ranked WHERE group_rank <= 5
    """,
    doc="Per-source contribution cap (C4/Gopher-style per-domain cap): "
    "keep the 5 highest-quality docs per source under an explicit "
    "quality order (distinct-word count, doc_id tiebreak) so no one "
    "domain dominates the corpus. stratified_sample is the hash-order "
    "special case; this is the quality-ordered general form. One "
    "shuffle on source with WindowGroupLimit pushing top-5 below the "
    "exchange. operators/sampling.py::cap_per_group.",
)
def q141_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import cap_per_group

    d = load(spark, sf_dir, "documents")
    dw = F.size(F.array_distinct(words(F.col("text")))).cast("bigint")
    return cap_per_group(
        d.select("doc_id", "source", dw.alias("distinct_words")),
        ["source"],
        [F.col("distinct_words").desc(), F.col("doc_id")],
        cap=5,
    ).select(
        "doc_id", "source", "distinct_words", F.col("group_rank").cast("bigint").alias("group_rank")
    )


@query(
    "q142_fuzzy_linkage",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS rid, lower(trim(c_name)) AS name,
             substr(lower(trim(c_name)), 1, 15) AS block
      FROM customer
      WHERE c_name IS NOT NULL AND length(lower(trim(c_name))) > 0
    )
    SELECT a.rid AS id_a, b.rid AS id_b, a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist
    FROM base a JOIN base b ON a.block = b.block AND a.rid < b.rid
    WHERE abs(length(a.name) - length(b.name)) <= 1
      AND levenshtein(a.name, b.name) <= 1
    """,
    doc="Fuzzy record linkage (entity resolution) over customer names: "
    "prefix-blocked candidate generation, length-difference prefilter, "
    "levenshtein<=1 verify — the Fellegi-Sunter blocking pattern that "
    "turns an O(n^2) edit-distance join into sum-of-block-sizes^2 with "
    "an explicit recall contract. All JVM-side (built-in levenshtein); "
    "the skew audit fails loudly before any oversized block schedules "
    "quadratic work. operators/linkage.py::fuzzy_pairs.",
)
def q142_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import fuzzy_pairs

    return fuzzy_pairs(
        load(spark, sf_dir, "customer"),
        id_col="c_custkey",
        name_col="c_name",
        block_len=15,
        max_dist=1,
    )


_Q143_ORACLE = """
    WITH e0 AS (
      SELECT DISTINCT o_custkey AS src, 1000000000000 + l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    params AS (
      SELECT COUNT(*) AS n,
             CAST(150000000000 // COUNT(*) AS BIGINT) AS teleport
      FROM nodes
    ),
    outdeg AS (SELECT src, COUNT(*) AS odeg FROM e GROUP BY src),
    r0 AS (
      SELECT node,
             CAST(1000000000000 // (SELECT n FROM params) AS BIGINT) AS ru
      FROM nodes
    ),
    c1 AS (SELECT e.dst AS node, SUM(r.ru // o.odeg) AS got
           FROM e JOIN r0 r ON e.src = r.node JOIN outdeg o ON e.src = o.src
           GROUP BY e.dst),
    r1 AS (SELECT n.node, CAST((COALESCE(c.got, 0) * 85) // 100
             + (SELECT teleport FROM params) AS BIGINT) AS ru
           FROM nodes n LEFT JOIN c1 c ON n.node = c.node),
    c2 AS (SELECT e.dst AS node, SUM(r.ru // o.odeg) AS got
           FROM e JOIN r1 r ON e.src = r.node JOIN outdeg o ON e.src = o.src
           GROUP BY e.dst),
    r2 AS (SELECT n.node, CAST((COALESCE(c.got, 0) * 85) // 100
             + (SELECT teleport FROM params) AS BIGINT) AS ru
           FROM nodes n LEFT JOIN c2 c ON n.node = c.node),
    c3 AS (SELECT e.dst AS node, SUM(r.ru // o.odeg) AS got
           FROM e JOIN r2 r ON e.src = r.node JOIN outdeg o ON e.src = o.src
           GROUP BY e.dst),
    r3 AS (SELECT n.node, CAST((COALESCE(c.got, 0) * 85) // 100
             + (SELECT teleport FROM params) AS BIGINT) AS ru
           FROM nodes n LEFT JOIN c3 c ON n.node = c.node),
    c4 AS (SELECT e.dst AS node, SUM(r.ru // o.odeg) AS got
           FROM e JOIN r3 r ON e.src = r.node JOIN outdeg o ON e.src = o.src
           GROUP BY e.dst),
    r4 AS (SELECT n.node, CAST((COALESCE(c.got, 0) * 85) // 100
             + (SELECT teleport FROM params) AS BIGINT) AS ru
           FROM nodes n LEFT JOIN c4 c ON n.node = c.node),
    c5 AS (SELECT e.dst AS node, SUM(r.ru // o.odeg) AS got
           FROM e JOIN r4 r ON e.src = r.node JOIN outdeg o ON e.src = o.src
           GROUP BY e.dst),
    r5 AS (SELECT n.node, CAST((COALESCE(c.got, 0) * 85) // 100
             + (SELECT teleport FROM params) AS BIGINT) AS ru
           FROM nodes n LEFT JOIN c5 c ON n.node = c.node)
    SELECT node, ru AS rank_units,
           CAST(ru AS DOUBLE) / 1000000000000.0 AS rank
    FROM r5 ORDER BY ru DESC, node LIMIT 20
    """


@query(
    "q143_pagerank",
    oracle=_Q143_ORACLE,
    doc="PageRank (5 damped rounds, d=0.85) over the symmetrized "
    "customer-supplier order graph; top-20 nodes by authority. Every "
    "arithmetic step is 64-bit integer fixed-point (1e-12 units) so "
    "the iterative result is bit-exact across engines and independent "
    "of summation order — the oracle re-derives all 5 rounds unrolled. "
    "Per round: rank vector (|V| rows) broadcast into the cached edge "
    "list, one groupBy(dst) — edges shuffle once total. "
    "operators/graph.py::pagerank.",
)
def q143_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # distinct BEFORE symmetrizing: the flip of a distinct set is
    # distinct and the two halves are disjoint (node id spaces don't
    # overlap), so the union is distinct by construction — half the
    # dedup-shuffle volume, and the fact join runs once, not twice.
    # Supplier offset is 1e12, NOT a warehouse-reachable key: custkey
    # ~ 1.5e5 x SF stays under 1e12 through SF ~ 6.6e6 (far past
    # 100 TB), so the disjointness premise survives scale — a 10M
    # offset would collide with custkeys from SF ~ 67 (review find)
    fwd = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(1_000_000_000_000) + F.col("l_suppkey")).cast("bigint").alias("dst"),
        )
        .distinct()
    )
    # checkpoint the forward half BEFORE symmetrizing: both union
    # branches reference fwd, and without truncation each branch
    # re-runs the full fact join + dedup (measured at 100x: two
    # 10.8 GB scan+join stages for one edge build)
    fwd = fwd.localCheckpoint(eager=False)
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank(edges, iterations=5, assume_distinct=True)
    return pr.orderBy(F.col("rank_units").desc(), "node").limit(20)


@query(
    "q144_linkage_delta",
    oracle="""
    WITH norm AS (
      SELECT c_custkey AS rid, lower(trim(c_name)) AS name,
             substr(lower(trim(c_name)), 1, 15) AS block
      FROM customer
      WHERE c_name IS NOT NULL AND length(lower(trim(c_name))) > 0
    ),
    d AS (SELECT * FROM norm WHERE rid % 7 = 0),
    s AS (SELECT * FROM norm WHERE rid % 7 <> 0)
    SELECT d.rid AS delta_id, s.rid AS store_id,
           d.name AS delta_name, s.name AS store_name,
           CAST(levenshtein(d.name, s.name) AS INT) AS dist
    FROM s JOIN d ON s.block = d.block
    WHERE abs(length(d.name) - length(s.name)) <= 1
      AND levenshtein(d.name, s.name) <= 1
    """,
    doc="Incremental entity resolution: a fresh batch (custkey % 7 = 0 "
    "stands in for the nightly load) probed against the stored master "
    "— the dedup_delta/minhash_delta/semantic_delta shape applied to "
    "fuzzy linkage. Candidates are (delta x store) within a block, "
    "never (store x store): cost is delta-size x block hit rate, "
    "independent of master size; the small delta broadcasts and the "
    "master streams through the verify. "
    "operators/linkage.py::fuzzy_pairs_delta.",
)
def q144_linkage_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import fuzzy_pairs_delta

    cust = load(spark, sf_dir, "customer")
    delta = cust.filter(F.col("c_custkey") % 7 == 0)
    store = cust.filter(F.col("c_custkey") % 7 != 0)
    return fuzzy_pairs_delta(
        delta, store, id_col="c_custkey", name_col="c_name",
        block_len=15, max_dist=1,
    )


@query(
    "q145_triangles",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS rid, lower(trim(c_name)) AS name,
             substr(lower(trim(c_name)), 1, 15) AS block
      FROM customer
      WHERE c_name IS NOT NULL AND length(lower(trim(c_name))) > 0
    ),
    pairs AS (
      SELECT a.rid AS u, b.rid AS v
      FROM base a JOIN base b ON a.block = b.block AND a.rid < b.rid
      WHERE abs(length(a.name) - length(b.name)) <= 1
        AND levenshtein(a.name, b.name) <= 1
    ),
    sym2 AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
    deg AS (SELECT u, COUNT(*) AS deg FROM sym2 GROUP BY u),
    oriented AS (
      SELECT e.u AS a, e.v AS b
      FROM sym2 e JOIN deg da ON da.u = e.u JOIN deg db ON db.u = e.v
      WHERE da.deg < db.deg OR (da.deg = db.deg AND e.u < e.v)
    ),
    wedges AS (
      SELECT w1.a AS piv, w1.b AS x, w2.b AS y
      FROM oriented w1 JOIN oriented w2 ON w1.a = w2.a
      WHERE w1.b < w2.b
    ),
    closed AS (
      SELECT piv, x, y FROM wedges
      JOIN sym2 ON sym2.u = wedges.x AND sym2.v = wedges.y
    ),
    tri AS (
      SELECT node, COUNT(*) AS triangles FROM (
        SELECT piv AS node FROM closed
        UNION ALL SELECT x FROM closed
        UNION ALL SELECT y FROM closed
      ) t GROUP BY node
    )
    SELECT n.node, CAST(COALESCE(tri.triangles, 0) AS BIGINT) AS triangles
    FROM (SELECT DISTINCT u AS node FROM sym2) n
    LEFT JOIN tri ON tri.node = n.node
    """,
    doc="Per-node triangle participation over the fuzzy-linkage pair "
    "graph — the local-clustering health metric for a dedup graph "
    "(dense triangles = true duplicate cluster; triangle-free chains "
    "= borderline matches needing review). Degree orientation (Suri "
    "& Vassilvitskii WWW'11) bounds wedge fan-out near sqrt(|E|) so "
    "the celebrity-node join explosion cannot happen; the oracle "
    "re-derives the same orientation in SQL. "
    "operators/graph.py::triangle_count.",
)
def q145_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_count
    from ..operators.linkage import fuzzy_pairs

    pairs = fuzzy_pairs(
        load(spark, sf_dir, "customer"),
        id_col="c_custkey",
        name_col="c_name",
        block_len=15,
        max_dist=1,
    )
    return triangle_count(pairs, src="id_a", dst="id_b")


_Q146_ROUND = """
    c{k} AS (SELECT e.dst AS node, SUM((r.ru * e.w) // o.sw) AS got
           FROM e JOIN r{j} r ON e.src = r.node JOIN outdeg o ON e.src = o.src
           GROUP BY e.dst),
    r{k} AS (SELECT n.node, CAST((COALESCE(c.got, 0) * 85) // 100
             + (SELECT teleport FROM params) AS BIGINT) AS ru
           FROM nodes n LEFT JOIN c{k} c ON n.node = c.node)"""

_Q146_ORACLE = (
    """
    WITH e0 AS (
      SELECT o_custkey AS src, 1000000000000 + l_suppkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2
    ),
    e AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst, src, w FROM e0),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    params AS (
      SELECT COUNT(*) AS n,
             CAST(150000000000 // COUNT(*) AS BIGINT) AS teleport
      FROM nodes
    ),
    outdeg AS (SELECT src, SUM(w) AS sw FROM e GROUP BY src),
    r0 AS (
      SELECT node,
             CAST(1000000000000 // (SELECT n FROM params) AS BIGINT) AS ru
      FROM nodes
    ),"""
    + ",".join(_Q146_ROUND.format(k=k, j=k - 1) for k in range(1, 6))
    + """
    SELECT node, ru AS rank_units,
           CAST(ru AS DOUBLE) / 1000000000000.0 AS rank
    FROM r5 ORDER BY ru DESC, node LIMIT 20
    """
)


@query(
    "q146_pagerank_weighted",
    oracle=_Q146_ORACLE,
    doc="Weighted PageRank: edge mass split by order multiplicity "
    "((rank * w) DIV sum_w per edge) instead of an equal outdegree "
    "split — the real crawl-graph shape, where link counts matter. "
    "Still pure int64 fixed-point, so all 5 rounds stay bit-exact "
    "cross-engine (the oracle unrolls them with the same weighted "
    "split); per round one |V|-bounded broadcast + one groupBy(dst), "
    "weights never dedupe (multiplicity IS the signal). "
    "operators/graph.py::pagerank(weight=...).",
)
def q146_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    fwd = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("src"),
            (F.lit(1_000_000_000_000) + F.col("l_suppkey")).cast("bigint").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    # same forward-half checkpoint as q143: one multiplicity aggregate
    # feeds both union branches instead of running twice
    fwd = fwd.localCheckpoint(eager=False)
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    pr = pagerank(edges, iterations=5, weight="w")
    return pr.orderBy(F.col("rank_units").desc(), "node").limit(20)


_Q147_ROUND = """
    c{k} AS (SELECT e.dst AS node, SUM(r.ru // o.odeg) AS got
           FROM e JOIN r{j} r ON e.src = r.node JOIN outdeg o ON e.src = o.src
           GROUP BY e.dst),
    r{k} AS (SELECT sp.node, CAST((COALESCE(c.got, 0) * 85) // 100
             + sp.tele AS BIGINT) AS ru
           FROM spine sp LEFT JOIN c{k} c ON sp.node = c.node)"""

_Q147_ORACLE = (
    """
    WITH e0 AS (
      SELECT DISTINCT o_custkey AS src, 1000000000000 + l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    seeds AS (SELECT node FROM nodes WHERE node < 100),
    params AS (
      SELECT COUNT(*) AS ns,
             CAST(150000000000 // COUNT(*) AS BIGINT) AS tele_seed,
             CAST(1000000000000 // COUNT(*) AS BIGINT) AS init_seed
      FROM seeds
    ),
    spine AS (
      SELECT n.node,
             CASE WHEN s.node IS NOT NULL
                  THEN (SELECT tele_seed FROM params) ELSE 0 END AS tele
      FROM nodes n LEFT JOIN seeds s ON n.node = s.node
    ),
    outdeg AS (SELECT src, COUNT(*) AS odeg FROM e GROUP BY src),
    r0 AS (
      SELECT node,
             CASE WHEN tele > 0
                  THEN (SELECT init_seed FROM params) ELSE 0 END AS ru
      FROM spine
    ),"""
    + ",".join(_Q147_ROUND.format(k=k, j=k - 1) for k in range(1, 6))
    + """
    SELECT node, ru AS rank_units,
           CAST(ru AS DOUBLE) / 1000000000000.0 AS rank
    FROM r5 ORDER BY ru DESC, node LIMIT 20
    """
)


@query(
    "q147_personalized_pagerank",
    oracle=_Q147_ORACLE,
    doc="Personalized (topic-sensitive) PageRank: teleport mass and the "
    "initial distribution concentrate on a seed set (customers 0-99 "
    "here; trusted hosts / a crawl frontier in production), ranking "
    "every node by walk-proximity to the seeds — the crawl-"
    "prioritization form of q143. Same int64 fixed-point discipline, "
    "teleport lowered from a scalar to a per-node column on the node "
    "spine; the oracle unrolls all 5 seeded rounds. "
    "operators/graph.py::pagerank(seeds=...).",
)
def q147_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    fwd = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(1_000_000_000_000) + F.col("l_suppkey")).cast("bigint").alias("dst"),
        )
        .distinct()
    )
    # checkpoint the forward half BEFORE symmetrizing: both union
    # branches reference fwd, and without truncation each branch
    # re-runs the full fact join + dedup (measured at 100x: two
    # 10.8 GB scan+join stages for one edge build)
    fwd = fwd.localCheckpoint(eager=False)
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = o.select(F.col("o_custkey").alias("node")).filter(F.col("node") < 100)
    pr = pagerank(edges, iterations=5, assume_distinct=True, seeds=seeds)
    return pr.orderBy(F.col("rank_units").desc(), "node").limit(20)


@query(
    "q149_pagerank_shuffle",
    # SAME oracle as q143: the shuffle engine runs the identical int64
    # fixed-point math under a different physical plan (ranks and edges
    # co-partitioned by node and reused across rounds, ZERO broadcasts),
    # so one oracle pins both engines byte-equal cross-engine — the
    # strongest possible equivalence evidence for the 100 TB path.
    oracle=_Q143_ORACLE,
    doc="q143's PageRank on the shuffle engine, forced by a zero "
    "max_nodes_broadcast — the page-level-width "
    "path (|V| beyond the ~5e7 rank-broadcast ceiling): edges are "
    "hash-partitioned by src ONCE, ranks/outdeg/spine stay node-hashed "
    "with the same fan-out, every per-round join is co-partitioned "
    "SHUFFLE_HASH (no broadcast, no SMJ re-sort of |E|), and the only "
    "per-round data movement is the groupBy(dst) message exchange — "
    "plan-audited in tests/test_graph_linkage.py (exactly one "
    "hashpartitioning Exchange, zero Broadcast) and byte-equal to the "
    "broadcast engine by the shared oracle. "
    "operators/graph.py::pagerank(max_nodes_broadcast=0).",
)
def q149_pagerank_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    fwd = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(1_000_000_000_000) + F.col("l_suppkey")).cast("bigint").alias("dst"),
        )
        .distinct()
    )
    # checkpoint the forward half BEFORE symmetrizing: both union
    # branches reference fwd, and without truncation each branch
    # re-runs the full fact join + dedup (measured at 100x: two
    # 10.8 GB scan+join stages for one edge build)
    fwd = fwd.localCheckpoint(eager=False)
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # a zero node threshold forces the shuffle engine on this small graph
    pr = pagerank(edges, iterations=5, assume_distinct=True, max_nodes_broadcast=0)
    return pr.orderBy(F.col("rank_units").desc(), "node").limit(20)


@query(
    "q148_linkage_multipass",
    oracle="""
    WITH src AS (
      SELECT c_custkey AS rid, c_name AS name FROM customer
      UNION ALL
      SELECT c_custkey + 10000000, 'k' || substr(c_name, 2) FROM customer
    ),
    base AS (
      SELECT rid, lower(trim(name)) AS name FROM src
      WHERE name IS NOT NULL AND length(lower(trim(name))) > 0
    ),
    keyed AS (
      SELECT 1 AS p, rid, name, substr(name, 1, 15) AS block FROM base
      UNION ALL
      SELECT 2, rid, name, right(name, 15) FROM base
      UNION ALL
      SELECT 3, rid, name,
             substr(regexp_replace(name, '[aeiou ]', '', 'g'), 1, 15) FROM base
    )
    SELECT DISTINCT a.rid AS id_a, b.rid AS id_b,
           a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist
    FROM keyed a JOIN keyed b
      ON a.p = b.p AND a.block = b.block AND a.rid < b.rid
    WHERE abs(length(a.name) - length(b.name)) <= 1
      AND levenshtein(a.name, b.name) <= 1
    """,
    doc="Multi-pass blocked linkage (Christen's recall composition, the "
    "r8 verdict's ranked task 2): three complementary block keys — "
    "prefix-15, suffix-15, consonant skeleton — each pass its own "
    "skew-audited blocked self-join, pair sets unioned + distinct'd. "
    "The fixture plants a HEAD typo ('k' replacing the first letter) "
    "on a shifted-id copy of every customer: invisible to q142's "
    "prefix blocking by construction, caught here by the suffix pass "
    "(positions 4..18 unchanged), so the recall gain is real on the "
    "fixture, not vacuous. operators/linkage.py::fuzzy_pairs_multi.",
)
def q148_linkage_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import fuzzy_pairs_multi

    c = load(spark, sf_dir, "customer")
    orig = c.select(F.col("c_custkey").alias("rid"), F.col("c_name").alias("name"))
    mut = c.select(
        (F.col("c_custkey") + 10_000_000).alias("rid"),
        F.concat(F.lit("k"), F.expr("substring(c_name, 2)")).alias("name"),
    )
    return fuzzy_pairs_multi(
        orig.unionByName(mut), "rid", "name", block_len=15, max_dist=1
    )


# every e{j} is referenced THREE times per round (degree, and twice via
# the survivor filter) — without MATERIALIZED, DuckDB inlines the CTE
# chain into 3^10 copies of the base scan (measured: fd exhaustion on
# lineitem.parquet before any row is produced)
_Q150_ROUND = """
    d{k} AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM e{j} GROUP BY u),
    a{k} AS MATERIALIZED (SELECT u FROM d{k} WHERE deg >= 30),
    e{k} AS MATERIALIZED (SELECT e.u, e.v FROM e{j} e
             JOIN a{k} x ON e.u = x.u JOIN a{k} y ON e.v = y.u)"""

_Q150_ORACLE = (
    """
    WITH sym AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS u, 1000000000000 + l_suppkey AS v
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    e0 AS MATERIALIZED (SELECT u, v FROM sym UNION ALL SELECT v, u FROM sym),"""
    + ",".join(_Q150_ROUND.format(k=k, j=k - 1) for k in range(1, 11))
    + """
    SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e10 GROUP BY u
    """
)


@query(
    "q150_kcore",
    oracle=_Q150_ORACLE,
    doc="k-core peeling (k=30, 10 idempotent rounds) over the "
    "customer-supplier order graph: the maximal subgraph where every "
    "node keeps >= 30 distinct trading partners — the graph family's "
    "density filter (dense boilerplate/spam farms vs borderline-match "
    "chains on a dedup pair graph). Peeling is confluent (Seidman "
    "1983) so the unrolled oracle's round count only needs to reach "
    "the fixpoint, which the operator's convergence check asserts "
    "loudly. Per round one degree aggregate over the SHRINKING edge "
    "set + two broadcast semi-joins against the survivor list. "
    "operators/graph.py::kcore.",
)
def q150_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(1_000_000_000_000) + F.col("l_suppkey")).cast("bigint").alias("dst"),
        )
        .distinct()
    )
    return kcore(edges, k=30, rounds=10)


@query(
    "q154_kcore_shuffle",
    # SAME oracle as q150: the shuffle engine runs the identical
    # layer-synchronous peel under a different physical plan (delta
    # peeling: only newly-dead nodes send degree decrements over a
    # frozen u-partitioned edge frame — ZERO broadcasts), so one oracle
    # pins both engines byte-equal — the q149/q143 equivalence pattern
    # applied to the graph family's density filter, closing the r9
    # verdict's "What's wrong" #1 (kcore's unguarded survivor
    # broadcast was the last hard 100 TB blocker in the family).
    oracle=_Q150_ORACLE,
    doc="q150's k-core peel on the shuffle engine, forced by a zero "
    "max_edges_broadcast — the width path: "
    "the symmetric edge frame is hash-partitioned ONCE by node and "
    "frozen; per round only the NEWLY dead nodes send degree "
    "decrements (co-partitioned semi-join, exchange-free) aggregated "
    "by the far endpoint (the ONE per-round exchange, bounded by the "
    "deaths' incident edges, not |E|), landing on the co-partitioned "
    "live-degree table. Across the whole peel each edge shuffles at "
    "most twice (once per endpoint death). No broadcast, no width "
    "ceiling; plan-audited in tests/test_graph_linkage.py (zero "
    "Broadcast, exactly one hashpartitioning Exchange, no SMJ). "
    "operators/graph.py::kcore(max_edges_broadcast=0).",
)
def q154_kcore_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(1_000_000_000_000) + F.col("l_suppkey")).cast("bigint").alias("dst"),
        )
        .distinct()
    )
    # a zero edge threshold forces the shuffle engine and skips the
    # node count: one counting job
    return kcore(edges, k=30, rounds=10, max_edges_broadcast=0)


@query(
    "q151_linkage_multipass_delta",
    oracle="""
    WITH d AS (
      SELECT c_custkey + 10000000 AS rid,
             lower(trim('k' || substr(c_name, 2))) AS name
      FROM customer
      WHERE c_name IS NOT NULL
        AND length(lower(trim('k' || substr(c_name, 2)))) > 0
    ),
    s AS (
      SELECT c_custkey AS rid, lower(trim(c_name)) AS name FROM customer
      WHERE c_name IS NOT NULL AND length(lower(trim(c_name))) > 0
    ),
    dk AS (
      SELECT 1 AS p, rid, name, substr(name, 1, 15) AS block FROM d
      UNION ALL SELECT 2, rid, name, right(name, 15) FROM d
      UNION ALL SELECT 3, rid, name,
             substr(regexp_replace(name, '[aeiou ]', '', 'g'), 1, 15) FROM d
    ),
    sk AS (
      SELECT 1 AS p, rid, name, substr(name, 1, 15) AS block FROM s
      UNION ALL SELECT 2, rid, name, right(name, 15) FROM s
      UNION ALL SELECT 3, rid, name,
             substr(regexp_replace(name, '[aeiou ]', '', 'g'), 1, 15) FROM s
    )
    SELECT DISTINCT dk.rid AS delta_id, sk.rid AS store_id,
           dk.name AS delta_name, sk.name AS store_name,
           CAST(levenshtein(dk.name, sk.name) AS INT) AS dist
    FROM sk JOIN dk ON sk.p = dk.p AND sk.block = dk.block
    WHERE abs(length(dk.name) - length(sk.name)) <= 1
      AND levenshtein(dk.name, sk.name) <= 1
    """,
    doc="Multi-pass incremental linkage: a nightly batch whose upstream "
    "corrupted the HEAD of every name ('k' over the first letter) "
    "probes the clean master. Prefix blocking (q144's contract) finds "
    "ZERO matches for this batch — the single-pass delta would re-admit "
    "every row as a new entity; the suffix pass catches every planted "
    "pair at dist 1. Same per-pass scale shape as q144 (delta "
    "broadcasts, store streams, store-side skew audit per pass), guard "
    "runs once. operators/linkage.py::fuzzy_pairs_delta_multi.",
)
def q151_linkage_multipass_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import fuzzy_pairs_delta_multi

    c = load(spark, sf_dir, "customer")
    delta = c.select(
        (F.col("c_custkey") + 10_000_000).alias("rid"),
        F.concat(F.lit("k"), F.expr("substring(c_name, 2)")).alias("name"),
    )
    store = c.select(F.col("c_custkey").alias("rid"), F.col("c_name").alias("name"))
    return fuzzy_pairs_delta_multi(delta, store, block_len=15, max_dist=1)


_Q152_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def _q152_oracle() -> str:
    """Morton-key oracle: identical expression SHAPE to zorder_key so
    the double quantization is IEEE-bit-equal cross-engine, then the
    same shift/or interleave in integer SQL."""
    stats = ", ".join(
        f"MIN(CAST({c} AS DOUBLE)) AS mn{i}, MAX(CAST({c} AS DOUBLE)) AS mx{i}"
        for i, c in enumerate(_Q152_COLS)
    )
    buckets = ", ".join(
        "CAST(coalesce(least(255, greatest(0, floor("
        f"(CAST({c} AS DOUBLE) - mn{i}) / (mx{i} - mn{i}) * 256.0"
        f"))), 0) AS BIGINT) AS b{i}"
        for i, c in enumerate(_Q152_COLS)
    )
    n = len(_Q152_COLS)
    morton = " | ".join(
        f"(((b{i} >> {j}) & 1) << {j * n + i})"
        for i in range(n)
        for j in range(8)
    )
    return f"""
    WITH stats AS (SELECT {stats} FROM lineitem),
    b AS (
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, {buckets}
      FROM lineitem, stats
    )
    SELECT l_orderkey, l_linenumber, CAST({morton} AS BIGINT) AS zval FROM b
    """


@query(
    "q152_zorder_key",
    oracle=_q152_oracle(),
    doc="Z-order (Morton) keys over three lineitem dimensions — the "
    "multi-column data-layout clustering key (Delta OPTIMIZE ZORDER / "
    "Iceberg clustering, public): each column quantized to 8 bits, "
    "bits interleaved by shift/or; one bounded driver pass, then a "
    "SCAN-LOCAL projection — no exchange, no window. This registered "
    "form runs quantize='linear' (exact [min,max] scaling) because "
    "linear double quantization is IEEE-bit-equal across engines by "
    "expression shape — the oracle-twinnable mode. The operator's "
    "DEFAULT is the skew-robust quantile mode (equal-mass rank "
    "buckets from approxQuantile edges; q156 pins its skew behavior), "
    "since linear buckets collapse on power-law columns. "
    "write_zordered pairs either mode with a sampled range exchange + "
    "in-partition sort so every file covers a narrow range of EVERY "
    "clustered column. operators/zorder.py::zorder_key.",
)
def q152_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.zorder import zorder_key

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", *_Q152_COLS
    )
    out = zorder_key(li, _Q152_COLS, bits=8, quantize="linear")
    return out.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        "zval",
    )


@query(
    "q156_zorder_quantile",
    # DERIVED oracle (the datapipe pattern: exact SQL-derivable columns
    # plus in-query-proven booleans the oracle pins TRUE): approxQuantile
    # edges have no DuckDB twin, so the query PROVES the skew contract
    # about itself — on a 7-decade power-law column the quantile mode
    # uses exactly 7 equal-mass buckets (max share <= 0.2; measured
    # 0.143-0.149 across sf0.001/0.01/0.1) while linear [min,max]
    # scaling collapses >= 50% of rows into ONE bucket (decades 1..1e3
    # all floor to bucket 0 of 256; measured 0.57) — and the oracle
    # pins those booleans TRUE plus the exact row count.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(7 AS BIGINT) AS qnt_buckets,
           TRUE AS qnt_balanced,
           TRUE AS lin_collapsed
    FROM lineitem
    """,
    doc="The skew contract of the DEFAULT Z-order quantization (round "
    "10, VERDICT r9 'What's wrong' #2): rank buckets from "
    "approxQuantile edges give every bucket ~equal row mass on a "
    "power-law column (here 10^(l_orderkey%7): seven decades of "
    "magnitude), where linear min/max scaling clumps the four lowest "
    "decades into one bucket and z-locality collapses. Both modes run "
    "in-query; the result carries the exact row count, the quantile "
    "mode's bucket count (exactly 7), and the two proven booleans. "
    "operators/zorder.py::zorder_key(quantize='quantile').",
)
def q156_zorder_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.zorder import zorder_key

    li = load(spark, sf_dir, "lineitem").select(
        F.pow(F.lit(10.0), (F.col("l_orderkey") % 7).cast("double")).alias(
            "amount"
        )
    )
    qnt = zorder_key(li, ["amount"], bits=8)  # default: quantile
    lin = zorder_key(li, ["amount"], bits=8, quantize="linear")
    qs = (
        qnt.groupBy("zval")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum("c").cast("bigint").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("qnt_buckets"),
            (F.max("c") / F.sum("c")).alias("qms"),
        )
    )
    ls = (
        lin.groupBy("zval")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg((F.max("c") / F.sum("c")).alias("lms"))
    )
    return qs.crossJoin(ls).select(
        "n",
        "qnt_buckets",
        (F.col("qms") <= F.lit(0.2)).alias("qnt_balanced"),
        (F.col("lms") >= F.lit(0.5)).alias("lin_collapsed"),
    )


_Q153_ROUND = """
    m{k} AS MATERIALIZED (SELECT s.v AS node, MIN(l.label) AS m
           FROM sym s JOIN l{j} l ON s.u = l.node GROUP BY s.v),
    l{k} AS MATERIALIZED (SELECT l.node,
             least(l.label, coalesce(m.m, l.label)) AS label
           FROM l{j} l LEFT JOIN m{k} m ON l.node = m.node)"""

_Q153_ORACLE = (
    """
    WITH base AS (
      SELECT c_custkey AS rid, lower(trim(c_name)) AS name,
             substr(lower(trim(c_name)), 1, 15) AS block
      FROM customer
      WHERE c_name IS NOT NULL AND length(lower(trim(c_name))) > 0
    ),
    pairs AS MATERIALIZED (
      SELECT a.rid AS u, b.rid AS v
      FROM base a JOIN base b ON a.block = b.block AND a.rid < b.rid
      WHERE abs(length(a.name) - length(b.name)) <= 1
        AND levenshtein(a.name, b.name) <= 1
    ),
    sym AS MATERIALIZED (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
    l0 AS MATERIALIZED (
      SELECT node, node AS label FROM (
        SELECT DISTINCT u AS node FROM sym
      ) n
    ),"""
    + ",".join(_Q153_ROUND.format(k=k, j=k - 1) for k in range(1, 4))
    + """
    SELECT node, label FROM l3
    """
)


@query(
    "q153_label_propagation",
    oracle=_Q153_ORACLE,
    doc="Bounded-radius min-label propagation (3 synchronous rounds) "
    "over the fuzzy-linkage pair graph: every node carries the minimum "
    "id within 3 hops — the fixed-cost community-seed pass that "
    "complements exact connected components (whose round count is the "
    "graph DIAMETER, unbounded at web scale; here the budget is "
    "deterministic and two nodes sharing a label are provably <= 6 "
    "hops apart). Same dual-engine physics as q143/q149 — one "
    "groupBy(dst) MIN exchange per round; MIN is order-free, so both "
    "engines are byte-equal with no fixed-point discipline needed. "
    "operators/graph.py::min_label_propagation.",
)
def q153_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import min_label_propagation
    from ..operators.linkage import fuzzy_pairs

    pairs = fuzzy_pairs(
        load(spark, sf_dir, "customer"),
        id_col="c_custkey",
        name_col="c_name",
        block_len=15,
        max_dist=1,
    )
    return min_label_propagation(pairs, src="id_a", dst="id_b", rounds=3)
