"""Term-statistics operators: TF-IDF and top-terms-per-document.

The inverted-index building block of corpus curation (keyword extraction,
topic tagging, boilerplate detection). Classic two-aggregation shape:

  explode(tokens) → tf per (doc, term)     [shuffle on (doc, term)]
  tf → df per term                         [shuffle on term]
  tf ⋈ df (broadcast: |vocab| ≪ |corpus|) → tf·idf

At 100 TB the document-frequency table is vocabulary-sized (millions of
rows, not billions) so the join side broadcasts; the heavy frames only ever
shuffle on their natural keys. Smoothed idf = ln((N+1)/(df+1)) + 1
(sklearn's `smooth_idf`, public convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T


def term_freqs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per (doc, term) with its in-document count."""
    tok = docs.select(
        F.col(id_col), F.explode(T.tokens(text_col)).alias("term")
    )
    return tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))


def tf_idf(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc, term, tf, df, tfidf) with smoothed idf.

    The df table (one row per vocabulary term) is broadcast into the
    tf⋈df join.

    The corpus size N enters as a 1-row broadcast aggregate crossJoin —
    never a separate `count()` action — so the whole computation is ONE
    job and the id-only N scan is column-pruned. At 100 TB a driver-side
    pre-count would be a full redundant corpus pass."""
    # tf feeds BOTH join sides; persist or the tokenize→explode→groupBy
    # lineage (the dominant cost) executes twice (NOTES self-join lesson).
    # No explicit unpersist (the result is lazy): the ContextCleaner frees
    # the blocks when the caller drops the returned frame.
    tf = term_freqs(docs, id_col, text_col).persist()
    df_tbl = F.broadcast(tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    n_tbl = docs.agg(F.count_distinct(F.col(id_col)).alias("__n_docs"))
    return (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_tbl))
        .select(
            id_col,
            "term",
            "tf",
            "df",
            (
                F.col("tf")
                * (
                    F.log(
                        (F.col("__n_docs").cast("double") + 1.0)
                        / (F.col("df") + 1.0)
                    )
                    + 1.0
                )
            ).alias("tfidf"),
        )
    )


def bigram_lm_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-trained bigram language-model fluency score per document —
    the classic LM quality filter for training-data curation: documents
    whose word transitions are improbable under the corpus model score low.

    score = mean over the doc's bigrams of ln(c(w1,w2) / c(w1,·)), i.e. the
    average conditional log-probability; `perplexity = exp(-score)`.
    Everything is counts + one broadcast join (the bigram table is
    vocabulary², but Zipf-truncated in practice; swap broadcast for a
    shuffle join if the model outgrows it). Docs with <2 tokens drop out.
    """
    tokd = docs.select(F.col(id_col), T.tokens(text_col).alias("__w")).where(
        F.size("__w") >= 2
    )
    big = tokd.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, size(__w) - 1),"
                " i -> struct(element_at(__w, i) AS w1,"
                " element_at(__w, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select(id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    cb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_pair"))
    cw = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c_head"))
    model = cb.join(cw, "w1")
    scored = big.join(F.broadcast(model), ["w1", "w2"]).select(
        F.col(id_col), F.log(F.col("c_pair") / F.col("c_head")).alias("logp")
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("logp").alias("avg_logp"),
    )


def top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k terms per doc by tf-idf (deterministic ties: term asc)."""
    scored = tf_idf(docs, id_col, text_col)
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def sparse_cosine_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_m: int = 10,
    max_df: int = 100,
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs sparse cosine similarity over capped-vocabulary TF vectors,
    via an inverted-index join — the text-side analogue of the embedding
    near-dup pass, for corpora that have no embeddings yet.

    Vector model = `CountVectorizer(max_df)` + per-doc top-``top_m`` term
    pruning + L2 cosine, the standard sparse document-similarity recipe:

      1. terms with document frequency > ``max_df`` are dropped (stopwords /
         boilerplate — the same role the LSH hot-bucket cap plays, and the
         thing that bounds every inverted-index posting list to ``max_df``);
      2. each doc keeps its ``top_m`` highest-TF remaining terms
         (ties → term asc, deterministic);
      3. pairs materialize ONLY through shared terms: postings are grouped
         per term (one shuffle on ``term``), pairs explode map-side from the
         ≤``max_df``-element posting array — never an all-pairs join;
      4. dot products and squared norms are integer TF sums (exact under any
         partial-agg order); the cosine itself is one per-row IEEE division,
         so results are bit-reproducible across engines.

    O(vocab · max_df²) candidate work, linear in corpus size for fixed caps.
    """
    tok = docs.select(F.col(id_col), F.explode(T.tokens(text_col)).alias("term"))
    # tf feeds df AND the pruned postings — persist or the tokenize/explode
    # lineage (dominant cost) runs twice (NOTES self-join lesson); released
    # by the ContextCleaner once the caller drops the (lazy) result.  The
    # df side stays a map-side-combined aggregation + anti-skew JOIN, not
    # a `count() OVER (PARTITION BY term)` window: a window colocates all
    # rows of a hot term in one unsplittable task before the max_df filter
    # can drop them, while AQE skew-join can split the skewed join probe.
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")).persist()
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    kept_terms = dfs.where(F.col("df") <= max_df).select("term")
    w = Window.partitionBy(id_col).orderBy(F.desc("tf"), F.asc("term"))
    kept = (
        tf.join(kept_terms, "term")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= top_m)
        .drop("__rn")
        # feeds norms + postings; lazy result ⇒ no explicit unpersist —
        # the ContextCleaner frees the blocks when the caller drops the
        # returned frame, MEMORY_AND_DISK eviction bounds them meanwhile
        .persist()
    )
    norms = kept.groupBy(id_col).agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    postings = kept.groupBy("term").agg(
        F.collect_list(F.struct(F.col(id_col).alias("d"), F.col("tf").alias("w"))).alias("ps")
    )
    pairs = postings.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, a -> transform("
                "filter(ps, b -> b.d > a.d),"
                " b -> struct(a.d AS doc_a, b.d AS doc_b, a.w * b.w AS prod))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b", "p.prod")
    dots = pairs.groupBy("doc_a", "doc_b").agg(F.sum("prod").alias("dot"))
    na = norms.select(F.col(id_col).alias("doc_a"), F.col("n2").alias("n2_a"))
    nb = norms.select(F.col(id_col).alias("doc_b"), F.col("n2").alias("n2_b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "dot",
            (
                F.col("dot")
                / (
                    F.sqrt(F.col("n2_a").cast("double"))
                    * F.sqrt(F.col("n2_b").cast("double"))
                )
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
