"""Topic modeling over the document corpus (MLlib LDA).

Corpus curation at training-data scale uses topic models to measure and
steer the domain mixture (cluster-then-sample, topic-balanced data
selection — the same role ext_domain_mix plays on labeled sources, but
unsupervised). This module fits MLlib's online-variational LDA over the
``documents`` table and emits per-document dominant topics plus a
driver-hashable contract row, following the same rows-only→contract
design as the k-means/ANN families (similarity.py:995/:1075): the fit is
engine-local, but the invariants every valid fit must satisfy are
cross-engine exact.

Scale shape (100 TB): tokenize + CountVectorizer are map-only passes;
online LDA is mini-batch — each iteration samples a fraction of the
corpus, does a map-side expectation step, and reduces a (k × vocab)
sufficient-statistics matrix (bounded by vocab, not corpus). Transform
is one map pass with the topic matrix broadcast. No all-pairs anywhere;
vocabulary is capped (VOCAB_CAP) so model state is fixed-size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import op

C = F.col

K_TOPICS = 5
VOCAB_CAP = 4096


def _tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens, empties dropped — identical to the oracle's
    unnest(string_split(...)) WHERE token <> ''."""
    return df.withColumn(
        "__tokens",
        F.filter(F.split(C(text_col), " "), lambda t: t != ""))


def fit_topics(docs: DataFrame, k: int = K_TOPICS,
               vocab_cap: int = VOCAB_CAP,
               id_col: str = "doc_id") -> DataFrame:
    """Fit LDA and return (doc_id, topic_id, topic_weight, dist_len,
    dist_sum) — dominant topic per document plus the distribution
    invariants used by the contract."""
    from pyspark.ml.clustering import LDA
    from pyspark.ml.feature import CountVectorizerModel
    from pyspark.ml.functions import vector_to_array

    # Pin partition layout AND within-partition order before fitting:
    # online LDA's mini-batch sampling depends on partition contents/order,
    # so without this two fits of the same data in one session can
    # disagree on borderline docs (observed r7). Hash-repartition + sort
    # is deterministic.
    tok = (_tokens(docs).select(id_col, "__tokens")
           .repartition(8, id_col).sortWithinPartitions(id_col))
    # CountVectorizer.fit orders tied term counts by reduce order, which
    # varies between fits; a term's index picks its column of LDA's seeded
    # random topic init, so a reordered vocabulary is a different fit
    # (78-102 of 500 sf0.001 docs changed topic between fits in one
    # session). The same top-`vocab_cap` terms, ordered by (count desc,
    # term asc), fix it.
    vocab = [r[0] for r in (
        tok.select(F.explode("__tokens").alias("t")).groupBy("t").count()
        .orderBy(F.desc("count"), "t").limit(vocab_cap).collect())]
    cv = CountVectorizerModel.from_vocabulary(
        vocab, inputCol="__tokens", outputCol="__features")
    feats = cv.transform(tok)
    lda = LDA(k=k, seed=42, maxIter=10, optimizer="online",
              featuresCol="__features").fit(feats)
    dist = (lda.transform(feats)
            .select(id_col,
                    vector_to_array(C("topicDistribution")).alias("__d")))
    return dist.select(
        id_col,
        (F.expr("array_position(__d, array_max(__d))") - 1)
        .cast("int").alias("topic_id"),
        F.array_max("__d").alias("topic_weight"),
        F.size("__d").alias("dist_len"),
        F.aggregate("__d", F.lit(0.0), lambda a, x: a + x)
        .alias("dist_sum"))


@op("ext_topic_model", oracle=f"""
    WITH tok AS (
        SELECT d.doc_id, t.token
        FROM documents d,
             UNNEST(string_split(d.text, ' ')) AS t(token)
        WHERE t.token <> ''
    )
    SELECT CAST(COUNT(DISTINCT doc_id) AS INT) AS n_docs,
           CAST({K_TOPICS} AS INT) AS k_topics,
           CAST(LEAST({VOCAB_CAP}, COUNT(DISTINCT token)) AS INT)
               AS vocab_size,
           TRUE AS all_docs_scored,
           TRUE AS dist_len_ok,
           TRUE AS dist_sums_to_one,
           TRUE AS weights_in_range
    FROM tok
""")
def ext_topic_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashed contract for the LDA topic model (k=5, seed 42,
    online optimizer, vocab cap 4096) over ``documents``.

    Cross-engine-exact fields: n_docs (every document must receive a
    distribution), k_topics, vocab_size (CountVectorizer's fitted
    vocabulary = min(cap, distinct whitespace tokens) — replayed exactly
    by the DuckDB twin's tokenizer). Booleans the twin asserts TRUE:
    all_docs_scored (transform produced one row per doc), dist_len_ok
    (every distribution has k entries), dist_sums_to_one (|Σp − 1| ≤
    1e-6 per doc — variational posteriors are normalized by
    construction; a broken fit fails the driver hash), weights_in_range
    (dominant-topic weight in [1/k − ε, 1] — argmax of a k-simplex
    point can't sit below the uniform weight).

    The per-document dominant topics are the op's real artifact; they
    stay engine-local (variational init is seed-dependent), so — like
    ext_kmeans_clusters' folded contract — the registered row is the
    invariant fold, and
    tests/test_topics.py pins the per-doc output semantics (partition,
    argmax consistency, reproducibility under the fixed seed)."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    per_doc = fit_topics(docs)
    vocab_size = (
        _tokens(docs).select(F.explode("__tokens").alias("token"))
        .agg(F.least(F.lit(VOCAB_CAP),
                     F.countDistinct("token")).cast("int"))
        .first()[0])
    inv = per_doc.agg(
        F.count(F.lit(1)).alias("__n_scored"),
        F.min(C("dist_len") == K_TOPICS).alias("dist_len_ok"),
        F.min(F.abs(C("dist_sum") - 1.0) <= 1e-6).alias("dist_sums_to_one"),
        F.min((C("topic_weight") >= 1.0 / K_TOPICS - 1e-9)
              & (C("topic_weight") <= 1.0)).alias("weights_in_range"))
    return inv.select(
        F.lit(n_docs).cast("int").alias("n_docs"),
        F.lit(K_TOPICS).cast("int").alias("k_topics"),
        F.lit(vocab_size).cast("int").alias("vocab_size"),
        (C("__n_scored") == n_docs).alias("all_docs_scored"),
        "dist_len_ok", "dist_sums_to_one", "weights_in_range")
