"""Lexical retrieval over the corpus: inverted-index statistics and BM25
top-k scoring — the sparse complement to the dense ANN operators
(simsearch.py / pq.py / hnsw.py).

Reference analog: ocr-cezam locates fields by keyword membership over
per-document token sets (utils/utils.py:30-53 trigger lookups); at corpus
scale the same capability is an inverted index + ranked retrieval.

Everything is native DataFrame ops: one explode to tokens, hash
aggregations, a broadcast join against the (tiny) query term set. No
UDFs, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ocr_cezam_spark.functions.numeric import round_he

# BM25 constants (Robertson et al. defaults)
BM25_K1 = 1.2
BM25_B = 0.75


def term_freqs(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(term, id, tf): whitespace tokenization, per-document term counts.

    The explode is the honest cost (|words| rows per doc); the immediate
    groupBy(term, id) combines map-side, so the shuffle carries one row
    per distinct (term, doc) — bounded by vocabulary x docs, far below
    token count on natural text.
    """
    return (
        docs.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("term", id_col)
        .agg(F.count("*").alias("tf"))
    )


def inverted_index_stats(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Per-term postings statistics: document frequency, total term
    frequency, and the champion document (highest tf, id as tie-break —
    the 'champion list' head used by WAND-style query pruning).

    Scale shape: two hash aggregations on the term key. A full postings
    *list* (collect_list per term) would put a stopword's millions of
    postings in one aggregation buffer — deliberately NOT materialized
    here; downstream consumers join term_freqs by term instead (Spark
    keeps that shuffled, never assembled in memory).
    """
    tf = term_freqs(docs, id_col, text_col)
    return tf.groupBy("term").agg(
        F.count("*").alias("doc_freq"),
        F.sum("tf").alias("total_tf"),
        F.max(F.struct(F.col("tf"), F.col(id_col))).alias("_champ"),
    ).select(
        "term", "doc_freq", "total_tf",
        F.col(f"_champ.{id_col}").alias("champion_doc"),
        F.col("_champ.tf").alias("champion_tf"),
    )


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 10,
              id_col: str = "doc_id", text_col: str = "text",
              k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """BM25 ranking of documents against a bag-of-terms query.

    score(d) = sum over query terms t of
        idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    with idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)  (Lucene form).

    Scale shape: every consumer derives from ONE term_freqs aggregation —
    doc lengths are sum(tf) per doc (no second corpus scan; N therefore
    counts docs with at least one token, which is also the only kind that
    can match), N/avgdl ride a 1-row broadcast crossJoin, and the query
    term set broadcasts into a semi-join that prunes the scoring work to
    |query| postings lists. The tf exchange is shared by the df/dl/score
    branches (ReusedExchange under AQE — the same pattern the minhash
    plan test asserts). Top-k is TakeOrdered (no global sort). Duplicate
    query terms are deduplicated (a bag-of-terms query; weighted queries
    would carry an explicit weight column instead of duplicates, which
    would otherwise corrupt df).

    Output: (id, score, n_matched) for the k best documents,
    score rounded to 4 dp, ties broken by id ascending.
    """
    tf = term_freqs(docs, id_col, text_col)
    qt = tf.sparkSession.createDataFrame(
        [(t,) for t in dict.fromkeys(query_terms)], ["term"]
    )
    dl = tf.groupBy(id_col).agg(
        F.sum("tf").cast("double").alias("dl")
    )
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    df_t = (
        tf.join(F.broadcast(qt), "term")
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
    )
    scored = (
        tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(df_t), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (
                F.log((F.col("n_docs") - F.col("df") + 0.5)
                      / (F.col("df") + 0.5) + 1.0)
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf")
                   + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("part"),
        )
        .groupBy(id_col)
        .agg(
            round_he(F.sum("part"), 4).alias("score"),
            F.count("*").alias("n_matched"),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
    )


def phrase_search_multi(docs: DataFrame, phrases: list[str],
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Exact matching for MANY phrases in ONE job — the bm25_multi_topk
    discipline applied to phrase_search: a decontamination or
    quoted-query workload carries thousands of phrases, and looping the
    single-phrase operator would scan the corpus once per phrase. The
    (phrase_id, slot, term) table broadcasts into ONE semi-join against
    the token stream; candidate alignments are (doc, phrase, start =
    pos - slot); one hash aggregation counts distinct slots per
    alignment and another rolls up per (doc, phrase). Identical
    semantics to phrase_search per phrase (pytest-pinned), including
    repeated-word phrases via slot-distinctness.

    Returns (phrase_id, id, n_hits, first_start) ordered by
    (phrase_id, id). Phrases are indexed by their position in
    ``phrases``; empty phrases are rejected.

    Scale shape: the token stream is filtered by the broadcast term
    set BEFORE any shuffle (phrase vocabulary is tiny against a web
    corpus); the explode multiplier is the number of (phrase, slot)
    pairs a token matches — bounded by the query table, not the
    corpus. No self-joins, no windows.
    """
    rows = []
    lens = {}
    for pid, phrase in enumerate(phrases):
        terms = [t for t in phrase.split(" ") if t != ""]
        if not terms:
            raise ValueError(f"empty phrase at index {pid}")
        lens[pid] = len(terms)
        rows += [(pid, i, t) for i, t in enumerate(terms)]
    spark = docs.sparkSession
    q = spark.createDataFrame(rows, "phrase_id int, slot int, term string")
    m_map = F.create_map(*[
        x for pid, m in sorted(lens.items())
        for x in (F.lit(pid), F.lit(m))
    ])
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )
    cand = toks.join(
        F.broadcast(q), toks["tok"] == q["term"]
    ).select(
        "id", "phrase_id",
        (F.col("pos") - F.col("slot")).alias("start"),
        "slot",
    ).filter(F.col("start") >= 0)
    hits = (
        cand.groupBy("id", "phrase_id", "start")
        .agg(F.countDistinct("slot").alias("n_slots"))
        .filter(F.col("n_slots") == F.element_at(m_map, F.col("phrase_id")))
    )
    return (
        hits.groupBy("phrase_id", "id")
        .agg(
            F.count("*").alias("n_hits"),
            F.min("start").alias("first_start"),
        )
        .orderBy("phrase_id", "id")
    )



def bm25f_topk(docs: DataFrame, query_terms: list[str], k: int = 10,
               title_words: int = 8, w_title: float = 2.0,
               w_body: float = 1.0, id_col: str = "doc_id",
               text_col: str = "text",
               k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """Fielded BM25 — the "simple BM25F" of Robertson, Zaragoza &
    Taylor (CIKM 2004): weight term occurrences BY FIELD before the
    saturation, never after (summing per-field BM25 scores double-
    saturates and is the paper's anti-pattern). A hit in the title
    region counts w_title, a body hit w_body; document length becomes
    the same weighted sum, so the k1/b machinery is unchanged.

    The title field here is the first ``title_words`` tokens (a honest
    stand-in over the flat documents table); production callers pass
    the kernel's extract_headings text as the title stream instead —
    the fielded aggregation below is identical either way.

    Determinism: the weighted tf is a sum of w_title/w_body doubles —
    with the default 2.0/1.0 weights every partial is an exact small
    integer in double, so Spark's reduce order cannot perturb it.

    Scale shape: identical to bm25_topk — ONE fielded term-frequency
    aggregation feeds df/dl/score (shared exchange), stats ride a
    1-row broadcast, query terms broadcast into a semi-join, top-k is
    TakeOrdered.

    Output: (id, score 4 dp, n_matched), ties broken by id ascending.
    """
    words = F.split(F.col(text_col), " ")
    weight = F.when(F.col("pos") < title_words, F.lit(w_title)) \
        .otherwise(F.lit(w_body))
    wtf = (
        docs.select(
            F.col(id_col), F.posexplode(words).alias("pos", "term")
        )
        .filter(F.col("term") != "")
        .groupBy("term", id_col)
        .agg(F.sum(weight).alias("wtf"))
    )
    qt = wtf.sparkSession.createDataFrame(
        [(t,) for t in dict.fromkeys(query_terms)], ["term"]
    )
    dl = wtf.groupBy(id_col).agg(F.sum("wtf").alias("wdl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("wdl").alias("avgwdl"),
    )
    df_t = (
        wtf.join(F.broadcast(qt), "term")
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
    )
    scored = (
        wtf.join(F.broadcast(qt), "term")
        .join(F.broadcast(df_t), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (
                F.log((F.col("n_docs") - F.col("df") + 0.5)
                      / (F.col("df") + 0.5) + 1.0)
                * (F.col("wtf") * (k1 + 1))
                / (F.col("wtf")
                   + k1 * (1 - b + b * F.col("wdl") / F.col("avgwdl")))
            ).alias("part"),
        )
        .groupBy(id_col)
        .agg(
            round_he(F.sum("part"), 4).alias("score"),
            F.count("*").alias("n_matched"),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
    )



def bm25_multi_topk(docs: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "doc_id", text_col: str = "text",
                    k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """Weighted multi-query BM25: score THOUSANDS of queries against the
    corpus in ONE job — a retrieval pipeline never loops ``bm25_topk``
    per query.

    ``queries``: (query_id, term, weight) — weights scale each term's
    contribution (duplicate (query_id, term) rows sum their weights, the
    bag-of-terms multiplicity made explicit). Per-query score(d) =
    sum over the query's terms of weight * idf * tf-saturation, the same
    Lucene-form idf as ``bm25_topk``.

    Scale shape: the query table broadcasts (it is tiny next to the
    corpus); df/dl/stats derive from the SAME single term_freqs
    aggregation as the single-query path; scoring joins postings to the
    broadcast query table — one row per (matching term, doc, query) —
    then aggregates on (query_id, doc). Per-query top-k is a row_number
    window on query_id, which Spark compiles to WindowGroupLimit
    (map-side per-partition top-k before the shuffle — the
    domain_quota_sample pattern), so no global sort and no per-query
    jobs. Output: (query_id, rank, id, score, n_matched).
    """
    from pyspark.sql import Window

    tf = term_freqs(docs, id_col, text_col)
    q = (
        queries.groupBy("query_id", "term")
        .agg(F.sum("weight").cast("double").alias("weight"))
    )
    terms = q.select("term").distinct()
    dl = tf.groupBy(id_col).agg(F.sum("tf").cast("double").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    df_t = (
        tf.join(F.broadcast(terms), "term")
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
    )
    scored = (
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(df_t), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            F.col(id_col),
            (
                F.col("weight")
                * F.log((F.col("n_docs") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5) + 1.0)
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf")
                   + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("part"),
        )
        .groupBy("query_id", id_col)
        .agg(
            round_he(F.sum("part"), 4).alias("score"),
            F.count("*").alias("n_matched"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "score", "n_matched")
    )


def phrase_search(docs: DataFrame, phrase: str,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Exact PHRASE matching via a positional index — the retrieval
    capability bag-of-terms BM25 cannot express ("new york" as a unit,
    quoted-query semantics, n-gram counting for decontamination by
    phrase rather than by whole-doc digest).

    Algorithm (the classic positional-postings intersection, re-shaped
    shuffle-free beyond one aggregation): tokenize with positions, keep
    ONLY tokens appearing in the phrase (the scan-level filter that
    makes this cheap — phrase terms are a vanishing fraction of a web
    corpus), and for each phrase slot i map a hit at position p to a
    CANDIDATE ALIGNMENT (doc, start = p - i). A start where all m slots
    are present is an exact occurrence: one hash aggregation on (doc,
    start) counting distinct slots — no self-joins, no m-way join chain
    (the textbook plan), no window. Repeated words in the phrase are
    handled by the slot-distinct count (the same token hit can serve
    two slots only at two different starts).

    Returns (id, n_hits, first_start) per matching document, ordered by
    id. Position arithmetic is on the whitespace token stream — the
    same tokenization every other text operator here uses.
    """
    terms = [t for t in phrase.split(" ") if t != ""]
    if not terms:
        raise ValueError("empty phrase")
    m = len(terms)
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    ).filter(F.col("tok").isin(terms))
    # each phrase slot this token could fill -> candidate alignment
    slots = F.array(*[
        F.when(F.col("tok") == t, F.lit(i)).otherwise(F.lit(None))
        for i, t in enumerate(terms)
    ])
    cand = toks.select(
        "id",
        F.explode(F.filter(slots, lambda s: s.isNotNull())).alias("slot"),
        F.col("pos"),
    ).select("id", "slot", (F.col("pos") - F.col("slot")).alias("start"))
    hits = (
        cand.filter(F.col("start") >= 0)
        .groupBy("id", "start")
        .agg(F.countDistinct("slot").alias("n_slots"))
        .filter(F.col("n_slots") == m)
    )
    return (
        hits.groupBy("id")
        .agg(
            F.count("*").alias("n_hits"),
            F.min("start").alias("first_start"),
        )
        .orderBy("id")
    )
