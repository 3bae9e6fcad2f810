"""Text analysis [N] (SURVEY.md §2.11) over the documents table:
language-ID heuristic, quality scoring, token counting, fingerprinting.

All JVM-side string/array functions — the shapes a 100 TB text pipeline
runs in its first pass (one scan, no shuffle, all columns derivable
per-row)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hiveberg_spark.caching import persist_tracked
from hiveberg_spark.catalog import load_table
from hiveberg_spark.registry import QUERIES, query

# tiny per-language stopword lists for the n-gram/stopword-vote heuristic
_LANG_MARKERS = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "das", "und", "zu"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "y", "de"],
}

_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_unique,
           LENGTH(text) AS n_chars,
           ROUND(LENGTH(text) * 1.0 / len(string_split(text, ' ')), 6) AS avg_token_len,
           LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS n_spaces
    FROM documents
    """,
)
def text_token_stats(spark, sf_dir):
    """Token counting: whitespace tokens, unique tokens, char stats."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.length("text").alias("n_chars"),
        F.round(F.length("text") / F.size(toks), 6).alias("avg_token_len"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))).alias(
            "n_spaces"
        ),
    )


@query(
    "text_bpe_ish_tokens",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
           CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS n_tokens_est
    FROM documents
    """,
)
def text_bpe_ish_tokens(spark, sf_dir):
    """BPE-ish token counting: regex word/number/punct pieces plus the
    chars/4 estimator used for quick corpus sizing."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
        F.ceil(F.length("text") / 4.0).cast("long").alias("n_tokens_est"),
    )


@query(
    "text_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents
    )
    SELECT doc_id,
           ROUND(len(list_filter(toks, w -> list_contains(['the','a','and','of','to','in','is','it'], w))) * 1.0
                 / len(toks), 6) AS stopword_ratio,
           ROUND(len(list_filter(toks, w -> LENGTH(w) >= 6)) * 1.0 / len(toks), 6) AS long_word_ratio,
           (len(toks) BETWEEN 20 AND 1000) AS len_ok,
           ROUND(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS ttr
    FROM t
    """,
)
def text_quality_score(spark, sf_dir):
    """Quality signals: stopword ratio, long-word ratio, length gate,
    type-token ratio — the standard pre-training quality filters."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    return d.select(
        "doc_id",
        F.round(
            F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w)))
            / F.size(toks),
            6,
        ).alias("stopword_ratio"),
        F.round(
            F.size(F.filter(toks, lambda w: F.length(w) >= 6)) / F.size(toks), 6
        ).alias("long_word_ratio"),
        F.size(toks).between(20, 1000).alias("len_ok"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias("ttr"),
    )


@query(
    "text_langid_heuristic",
    oracle="""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    votes AS (
      SELECT doc_id, lang,
        len(list_filter(toks, w -> list_contains(['the','a','and','of','to'], w))) AS v_en,
        len(list_filter(toks, w -> list_contains(['der','die','das','und','zu'], w))) AS v_de,
        len(list_filter(toks, w -> list_contains(['le','la','et','les','des'], w))) AS v_fr,
        len(list_filter(toks, w -> list_contains(['el','la','los','y','de'], w))) AS v_es
      FROM t
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN GREATEST(v_en, v_de, v_fr, v_es) = 0 THEN 'und'
                WHEN v_en >= GREATEST(v_de, v_fr, v_es) THEN 'en'
                WHEN v_de >= GREATEST(v_fr, v_es) THEN 'de'
                WHEN v_fr >= v_es THEN 'fr'
                ELSE 'es' END AS predicted_lang
    FROM votes
    """,
)
def text_langid_heuristic(spark, sf_dir):
    """Stopword-vote language ID (the n-gram heuristic family). Ties
    resolved by a fixed language priority so the result is deterministic
    on synthetic text."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def votes(words):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda w: F.array_contains(arr, w)))

    v = {lang: votes(words) for lang, words in _LANG_MARKERS.items()}
    best = F.greatest(*v.values())
    pred = (
        F.when(best == 0, "und")
        .when(v["en"] >= F.greatest(v["de"], v["fr"], v["es"]), "en")
        .when(v["de"] >= F.greatest(v["fr"], v["es"]), "de")
        .when(v["fr"] >= v["es"], "fr")
        .otherwise("es")
    )
    return d.select(
        "doc_id", F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang")
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
           sha256(text) AS sha
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 of whitespace-normalized lowercase
    text + sha256 of the raw text (the content-addressing keys of a
    dedup/provenance pipeline)."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return d.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.sha2(F.col("text").cast("binary"), 256).alias("sha"),
    )


@query(
    "text_rolling_hash",
    oracle="""
    SELECT doc_id,
           CAST(COUNT(*) OVER (PARTITION BY text) AS BIGINT) AS n_same_fingerprint
    FROM documents
    """,
)
def text_rolling_hash(spark, sf_dir):
    """Polynomial rolling hash over the token stream (shift-invariant
    fingerprint family): acc = acc·1000003 + xxhash64(token), wrapping in
    64-bit. JVM-side aggregate over the words array.

    The hash VALUE is xxhash64-based (Spark-specific), so the checked
    projection is the fingerprint CONTRACT instead: documents share a
    fingerprint iff they share content — each doc's fingerprint
    equivalence-class size must equal its text equivalence-class size
    (collision-free on this corpus; deterministic, verified at both
    SFs)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    rolling = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc * F.lit(1000003).cast("long") + F.xxhash64(w),
    )
    from pyspark.sql import Window as W

    fp = d.select("doc_id", rolling.alias("rolling_hash"))
    return fp.select(
        "doc_id",
        F.count("*").over(W.partitionBy("rolling_hash")).alias("n_same_fingerprint"),
    )


@query(
    "text_corpus_stats",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_tokens
    FROM documents GROUP BY lang, source
    """,
)
def text_corpus_stats(spark, sf_dir):
    """Corpus roll-up by (lang, source) — the partition-planning query of
    a training-data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total_tokens"),
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS word
      FROM documents
    ),
    tf AS (
      SELECT t.doc_id, t.word, COUNT(*) AS cnt
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents) t
      GROUP BY 1, 2
    ),
    df AS (SELECT word, COUNT(*) AS n_docs FROM tok GROUP BY word),
    n AS (SELECT COUNT(*) AS total FROM documents)
    SELECT tf.doc_id, tf.word,
           ROUND(tf.cnt * LN((SELECT total FROM n) / n_docs), 6) AS tfidf
    FROM tf JOIN df ON tf.word = df.word
    WHERE tf.doc_id < 50
    """,
)
def text_tfidf_top_terms(spark, sf_dir):
    """TF-IDF [N]: term frequency × ln(N/df), the classic relevance
    weight. Scale: two shuffles — (doc,word) counts and word document
    frequencies — both with map-side partial aggregation; df is tiny
    (vocabulary-sized) and broadcast back."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("cnt"))
    df_ = (
        d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n_docs"))
    )
    total = d.count()
    return (
        tf.join(F.broadcast(df_), "word")
        .filter(F.col("doc_id") < 50)
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("cnt") * F.log(F.lit(float(total)) / F.col("n_docs")), 6
            ).alias("tfidf"),
        )
    )


@query(
    "text_word_bigrams",
    oracle="""
    WITH docs AS (SELECT regexp_split_to_array(text, ' ') AS w FROM documents),
    bg AS (
      SELECT w[i] || ' ' || w[i+1] AS bigram
      FROM docs, UNNEST(generate_series(1, len(w)-1)) AS t(i)
    )
    SELECT bigram, COUNT(*) AS n FROM bg
    GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50
    """,
)
def text_word_bigrams(spark, sf_dir):
    """Corpus n-gram statistics [N]: top word bigrams. JVM-side sliding
    window over the words array (same shingle machinery as dedup), then
    a count shuffle on the bigram key."""
    d = load_table(spark, sf_dir, "documents")
    with_words = d.select(F.split("text", " ").alias("w"))
    words = F.col("w")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(words) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(words, i + 1), F.element_at(words, i + 2)
        ),
    )
    return (
        with_words.filter(F.size(words) >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(50)
    )


@query(
    "text_template_detect",
    oracle="""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(text, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 7), ' ') AS g
      FROM words, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
    ),
    freq AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 3
    ),
    flagged AS (
      SELECT DISTINCT doc_id FROM grams WHERE g IN (SELECT g FROM freq)
    )
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(f.doc_id) AS BIGINT) AS n_template_docs
    FROM documents d LEFT JOIN flagged f USING (doc_id)
    GROUP BY d.source
    """,
)
def text_template_detect(spark, sf_dir):
    """Template/boilerplate detection [N] — the corpus-level sibling of
    per-document repetition filtering: a document is flagged when it
    shares an 8-word-gram with >= 3 distinct documents (mail templates,
    scraped boilerplate, licence headers). Shape mirrors the dedup
    inverted index: per-doc DISTINCT grams (JVM sliding window, no
    Python), one gram-keyed aggregation for document frequency, then a
    LEFT SEMI join flags members — cost Sigma df(gram) over frequent
    grams only, never all-pairs. At 100 TB the frequent-gram table is
    tiny (boilerplate is by definition concentrated) and broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    grams8 = F.transform(
        F.sequence(F.lit(1), F.size(words) - 7),
        lambda i: F.concat_ws(" ", F.slice(words, i, 8)),
    )
    doc_grams = (
        # the size guard matters: sequence(1, n) with n < 1 DESCENDS in
        # Spark (1, 0, -1, ...) instead of being empty like DuckDB's
        # generate_series — short docs must not emit garbage grams
        d.filter(F.size(words) >= 8)
        .select("doc_id", F.explode(grams8).alias("g"))
        .distinct()
        .persist()
    )
    freq = (
        doc_grams.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 3)
        .select("g")
    )
    flagged = (
        doc_grams.join(freq, "g", "left_semi").select("doc_id").distinct()
    )
    out = (
        d.join(flagged.withColumn("is_t", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("is_t").alias("n_template_docs"),
        )
    )
    out = persist_tracked(out)
    out.count()
    doc_grams.unpersist()
    return out


#: Gopher rules (Rae et al. 2021, arXiv:2112.11446 Table A1), the
#: industry-standard document-level quality gate battery. The paper's
#: required-stopword list is ["the","be","to","of","and","that","have",
#: "with"]; this corpus's 31-word synthetic vocabulary contains none of
#: the last six, so the rule runs over the module's stopword list (same
#: structure, corpus-adapted membership) to stay discriminative.
_GOPHER_REQ_STOPS = _STOPWORDS
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 50, 100_000
_GOPHER_MWL_LO, _GOPHER_MWL_HI = 3.0, 10.0
_GOPHER_ALPHA_RATIO = 0.8
_GOPHER_MIN_STOPS = 2


@query(
    "text_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             ROUND(list_sum(list_transform(toks, w -> LENGTH(w))) * 1.0
                   / len(toks), 6) AS mean_word_len,
             ROUND(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]')))
                   * 1.0 / len(toks), 6) AS alpha_word_ratio,
             len(list_filter(
                   ['the','a','and','of','to','in','is','it'],
                   s -> list_contains(toks, s))) AS n_req_stopwords
      FROM t
    )
    SELECT doc_id, n_words, mean_word_len, alpha_word_ratio,
           n_req_stopwords,
           (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
            AND mean_word_len BETWEEN {_GOPHER_MWL_LO} AND {_GOPHER_MWL_HI}
            AND alpha_word_ratio >= {_GOPHER_ALPHA_RATIO}
            AND n_req_stopwords >= {_GOPHER_MIN_STOPS}) AS keep
    FROM m
    """,
)
def text_gopher_rules(spark, sf_dir):
    """The Gopher document-quality rule battery (Rae et al. 2021,
    Appendix A1 — the gate MassiveText and most successors run before
    any model-based filtering): word-count bounds, mean-word-length
    bounds, alphabetic-word ratio, and the required-stopword rule
    (a real document contains at least 2 of 8 function words). Emits
    every signal plus the composite `keep` so downstream stages can
    re-weight rather than hard-drop. All JVM higher-order functions
    over one scan — zero Python, zero shuffle: at 100 TB this is a
    map-only pass whose cost is the read itself."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    req = F.array(*[F.lit(w) for w in _GOPHER_REQ_STOPS])
    m = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.round(
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
            )
            / F.size(toks),
            6,
        ).alias("mean_word_len"),
        F.round(
            F.size(F.filter(toks, lambda w: w.rlike("[a-zA-Z]")))
            / F.size(toks),
            6,
        ).alias("alpha_word_ratio"),
        F.size(F.filter(req, lambda s: F.array_contains(toks, s)))
        .cast("long")
        .alias("n_req_stopwords"),
    )
    return m.withColumn(
        "keep",
        F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(_GOPHER_MWL_LO, _GOPHER_MWL_HI)
        & (F.col("alpha_word_ratio") >= _GOPHER_ALPHA_RATIO)
        & (F.col("n_req_stopwords") >= _GOPHER_MIN_STOPS),
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             UNNEST(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
      FROM words a
      JOIN words b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      JOIN words c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
    ),
    firsts AS (
      SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
    )
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
    FROM grams gr JOIN firsts f ON f.g = gr.g
    GROUP BY gr.doc_id
    """,
)
def text_ngram_novelty(spark, sf_dir):
    """N-GRAM NOVELTY scoring (corpus-curation metric): per document,
    the fraction of its distinct word trigrams the corpus has never
    seen in any EARLIER document (arrival order = doc_id). Low-novelty
    documents are near-copies or boilerplate recombinations — the
    curriculum/pruning signal dedup thresholds miss because no single
    pair crosses them. Scale shape: one explode + one shuffle keyed on
    the shingle (the inverted-index layout the dedup family already
    uses), a min-aggregate for first sightings, and a key-join back —
    never any pairwise comparison. Reuses the dedup family's shingler
    (JVM higher-order functions, no Python in the hot path)."""
    from hiveberg_spark.operators.dedup import shingled

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = (
        shingled(docs)
        .select("doc_id", F.explode("shingles").alias("g"))
    )
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.round(
                F.col("n_novel") / F.col("n_grams").cast("double"), 6
            ),
        )
    )


@query(
    "text_perplexity_proxy",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(text, ' ')) AS word
      FROM documents
    ),
    counts AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
    stats AS (SELECT COUNT(*) AS n, COUNT(DISTINCT word) AS v FROM tok),
    lp AS (
      SELECT doc_id,
             CAST(FLOOR(LN((cnt + 1.0) / (n + v)) * 1000000) AS BIGINT)
               AS lp_micro
      FROM tok JOIN counts USING (word) CROSS JOIN stats
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(lp_micro) AS BIGINT) AS logprob_micro,
           ROUND(-SUM(lp_micro) * 1.0 / COUNT(*) / 1000000, 6) AS avg_nll
    FROM lp GROUP BY doc_id
    """,
)
def text_perplexity_proxy(spark, sf_dir):
    """Perplexity-proxy quality scoring (the CCNet/CC-filtering shape:
    score each document by a language model trained ON the corpus, drop
    the high-NLL tail): an add-one-smoothed UNIGRAM model
    p(w) = (count(w)+1)/(N+V) is fit in one aggregation pass, then
    every document scores avg negative log-likelihood in a second.

    Cross-engine determinism: each token's ln p(w) is quantized to
    integer micro-nats (FLOOR(x*1e6) — floor, not cast: SQL casts
    round while Spark's truncate) and SUMMED AS INTEGERS, so float
    summation order can never drift the result; avg_nll derives from
    the exact integer sum. Scale: token→count join shuffles on the
    word (AQE handles stop-word skew); the model itself is two scalars
    plus a vocabulary-sized count table — at 100 TB the counts table
    stays data-distributed and the per-doc score is one partial-agg
    shuffle on doc_id. A production pipeline swaps the unigram for a
    KenLM scorer in the same two-pass shape."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    tok = persist_tracked(docs.select("doc_id", F.explode("w").alias("word")))
    counts = tok.groupBy("word").agg(F.count("*").alias("cnt"))
    stats = tok.agg(
        F.count("*").alias("n"), F.countDistinct("word").alias("v")
    )
    lp = (
        tok.join(counts, "word")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(
                F.log((F.col("cnt") + 1.0) / (F.col("n") + F.col("v")))
                * 1000000
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return lp.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("lp_micro").alias("logprob_micro"),
        F.round(
            -F.sum("lp_micro") * 1.0 / F.count("*") / 1000000, 6
        ).alias("avg_nll"),
    )


@query(
    "text_hashed_classifier",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t AS tok
      FROM documents, UNNEST(string_split(lower(text), ' ')) AS u(t)
      WHERE len(t) > 0
    ),
    scored AS (
      SELECT doc_id,
             SUM((CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT) % 1024)
                 % 21 - 10) AS w_sum,
             COUNT(*) AS n_tok
      FROM toks GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(w_sum, 0) AS BIGINT) AS w_sum,
           CAST(COALESCE(n_tok, 0) AS BIGINT) AS n_tok,
           COALESCE(w_sum, 0) > 0 AS keep
    FROM documents d LEFT JOIN scored USING (doc_id)
    """,
)
def text_hashed_classifier(spark, sf_dir):
    """fastText-shaped HASHED LINEAR CLASSIFIER scoring — the quality-
    filter architecture (Joulin et al. 2016; the CCNet/GPT-3 quality
    gate): tokenize, hash each token into a fixed bucket space (1024
    buckets via an md5 prefix, the hashing-trick feature map), sum the
    per-bucket weights, threshold. Weights here are a deterministic
    function of the bucket (integer, exactly representable) so the
    oracle recomputes the identical score — in production the weight
    table is a trained vector broadcast as a map-literal column; the
    PLAN SHAPE (one scan, explode, map-side partial sum on doc_id, no
    all-pairs, no UDF) is what this query pins.

    Scale: tokenize+hash+weight are JVM higher-order expressions; the
    only shuffle is the per-doc aggregation, partial-aggregated
    map-side. 100 TB cost = one pass over text."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("long")
        % 1024
    )
    scored = (
        toks.select("doc_id", (bucket % 21 - 10).alias("w"))
        .groupBy("doc_id")
        .agg(
            F.sum("w").cast("long").alias("w_sum"),
            F.count("*").cast("long").alias("n_tok"),
        )
    )
    return (
        d.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("w_sum", F.lit(0)).cast("long").alias("w_sum"),
            F.coalesce("n_tok", F.lit(0)).cast("long").alias("n_tok"),
            (F.coalesce("w_sum", F.lit(0)) > 0).alias("keep"),
        )
    )


@query(
    "text_pii_scrub",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or bot@mail.test from 10.'
                  || CAST(doc_id % 256 AS VARCHAR)
                  || '.0.1 tel 555-0148.' AS t
      FROM documents WHERE doc_id < 1000
    )
    SELECT doc_id,
           (LENGTH(t) - LENGTH(regexp_replace(
               t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '', 'g')))
               AS email_chars,
           (LENGTH(t) - LENGTH(regexp_replace(
               t, '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '', 'g')))
               AS ip_chars,
           (LENGTH(t) - LENGTH(regexp_replace(
               t, '\\b[0-9]{3}-[0-9]{4}\\b', '', 'g'))) AS phone_chars,
           LENGTH(regexp_replace(regexp_replace(regexp_replace(
               t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
               '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
               '\\b[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g')) AS scrubbed_len
    FROM seeded
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII SCRUBBING battery (the Dolma/CCNet pre-training scrub):
    email, IPv4, and phone patterns each redact to a typed placeholder
    with an audit count of removed characters — the contract a
    compliance pass needs (how much was removed, of what class),
    checkable without comparing full rewritten text. The synthetic
    corpus carries no natural PII, so both engines seed identical
    deterministic PII spans per document first; what the oracle then
    pins is the cross-engine regex semantics and the scrub arithmetic.
    Patterns stay in the Java∩RE2 portable subset. One narrow
    projection, zero shuffle — 100 TB cost is one text pass."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or bot@mail.test from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1 tel 555-0148."),
    )
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ip = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
    phone = r"\b[0-9]{3}-[0-9]{4}\b"
    seeded = d.select("doc_id", t.alias("t"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), email, "<EMAIL>"), ip, "<IP>"
        ),
        phone,
        "<PHONE>",
    )
    return seeded.select(
        "doc_id",
        (
            F.length("t") - F.length(F.regexp_replace(F.col("t"), email, ""))
        ).alias("email_chars"),
        (
            F.length("t") - F.length(F.regexp_replace(F.col("t"), ip, ""))
        ).alias("ip_chars"),
        (
            F.length("t") - F.length(F.regexp_replace(F.col("t"), phone, ""))
        ).alias("phone_chars"),
        F.length(scrubbed).alias("scrubbed_len"),
    )


@query(
    "sample_perplexity_split",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(text, ' ')) AS word
      FROM documents
    ),
    counts AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
    stats AS (SELECT COUNT(*) AS n, COUNT(DISTINCT word) AS v FROM tok),
    lp AS (
      SELECT doc_id,
             CAST(FLOOR(LN((cnt + 1.0) / (n + v)) * 1000000) AS BIGINT)
               AS lp_micro
      FROM tok JOIN counts USING (word) CROSS JOIN stats
    ),
    scored AS (
      SELECT doc_id, COUNT(*) AS n_tokens, SUM(lp_micro) AS lpm
      FROM lp GROUP BY doc_id
    ),
    bucketed AS (
      SELECT d.lang, s.doc_id,
             NTILE(3) OVER (
               PARTITION BY d.lang
               ORDER BY -s.lpm * 1.0 / s.n_tokens, s.doc_id
             ) AS bucket
      FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM bucketed GROUP BY lang, bucket
    """,
)
def sample_perplexity_split(spark, sf_dir):
    """CCNet's HEAD/MIDDLE/TAIL corpus split: per language, documents
    rank by their perplexity-proxy score (the unigram-LM avg NLL from
    text_perplexity_proxy, composed here) and NTILE(3) into the three
    quality terciles — head+middle is what CCNet keeps for training.
    Ordering is the exact integer-micro-nat sum divided by the exact
    token count (identical IEEE division both engines), ties broken by
    doc_id, so the tercile boundaries can never drift cross-engine.
    Scale (round-10 upgrade): the naive form is a lang-PARTITIONED
    NTILE window — with a handful of languages over a 100 TB corpus
    that is a handful of corpus-sized tasks (keyed skew, the same
    bottleneck class as an unpartitioned window). Instead the rank is
    DISTRIBUTED: `global_positions` over the total order
    (lang, score, doc_id) — one range exchange — minus a broadcast
    per-language offset gives each doc's 1-based rank WITHIN its
    language, and NTILE(3)'s bucket is then a pure integer expression
    of (rank, n_lang): with q = n div 3, m = n mod 3, bucket =
    ceil(r/(q+1)) for the first m*(q+1) rows else m + ceil((r -
    m*(q+1))/q) — exactly SQL NTILE's fat-buckets-first contract, so
    the unchanged NTILE oracle pins the rewrite."""
    from pyspark.sql import Window as W

    from hiveberg_spark.operators.pipeline_ops import global_positions

    scored = text_perplexity_proxy(spark, sf_dir).select(
        "doc_id", "n_tokens", F.col("logprob_micro").alias("lpm")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    keyed = scored.join(docs, "doc_id").select(
        "doc_id",
        "lang",
        (-F.col("lpm") * 1.0 / F.col("n_tokens")).alias("score"),
    )
    pos = global_positions(
        keyed, [F.asc("lang"), F.asc("score"), F.asc("doc_id")], 8
    )
    lang_sizes = (
        keyed.groupBy("lang")
        .agg(F.count("*").alias("n_lang"))
        .withColumn(
            "lang_offset",
            F.coalesce(
                F.sum("n_lang").over(
                    W.orderBy("lang").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )
    r = F.col("position") - F.col("lang_offset")
    q = F.floor(F.col("n_lang") / 3).cast("long")
    m = (F.col("n_lang") % 3).cast("long")
    bucket = (
        F.when(
            r <= m * (q + 1), F.floor((r - 1) / (q + 1)) + 1
        )
        .otherwise(m + F.floor((r - m * (q + 1) - 1) / q) + 1)
        .cast("int")
    )
    return (
        pos.join(F.broadcast(lang_sizes), "lang")
        .withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# -- BM25 ranking --------------------------------------------------------------

_BM25_TERMS = ("merge", "shuffle", "window")
_BM25_K1, _BM25_B = 1.2, 0.75

_BM25_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(len) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, w, COUNT(*) AS tf FROM toks
      WHERE w IN ('merge', 'shuffle', 'window') GROUP BY doc_id, w
    ),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY w),
    scored AS (
      SELECT tf.doc_id,
             SUM(
               LN(((SELECT n_docs FROM stats) - df.df + 0.5)
                  / (df.df + 0.5) + 1)
               * tf.tf * {_BM25_K1 + 1}
               / (tf.tf + {_BM25_K1} * ({1 - _BM25_B} + {_BM25_B}
                          * dl.len / (SELECT avgdl FROM stats)))
             ) AS s
      FROM tf JOIN df USING (w) JOIN dl USING (doc_id)
      GROUP BY tf.doc_id
    )
    SELECT doc_id, ROUND(s, 6) AS bm25 FROM scored
    ORDER BY bm25 DESC, doc_id LIMIT 20
"""


@query("text_bm25_topk", oracle=_BM25_ORACLE)
def text_bm25_topk(spark, sf_dir):
    """BM25 ranking (Robertson/Sparck-Jones Okapi weighting, k1=1.2,
    b=0.75, the +1-smoothed idf Lucene uses) for a fixed query term
    set — the lexical-retrieval baseline every hybrid-search pipeline
    pairs with dense ANN. Pipeline: one tokenize pass feeds BOTH the
    per-doc length table and the term-filtered tf table (the term
    filter collapses the explode to O(matching postings) immediately);
    corpus stats (N, avgdl) are a one-row broadcast; scores round to
    6 dp before the (score, doc_id) top-k cut so ranking is
    cross-engine deterministic."""
    return (
        bm25_scores(spark, sf_dir, list(_BM25_TERMS))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


def bm25_scores(spark, sf_dir, terms):
    """(doc_id, bm25) for every doc matching any query term — the
    shared scorer behind text_bm25_topk and the hybrid RRF fusion.
    Scores are rounded to 6 dp HERE so every consumer ranks on the
    same cross-engine-stable values."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("len"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("len").alias("avgdl")
    )
    tf = (
        toks.filter(F.col("w").isin(terms))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))  # <= |terms| rows
    k1, b = _BM25_K1, _BM25_B
    idf = F.log(
        ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)) + 1
    )
    denom = F.col("tf") + k1 * (
        (1 - b) + b * F.col("len") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(df_), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * F.col("tf") * (k1 + 1) / denom), 6).alias("bm25"))
    )


_RM3_ORACLE = """
    WITH toks AS MATERIALIZED (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    dl AS MATERIALIZED (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id),
    stats AS MATERIALIZED (SELECT COUNT(*) AS n_docs, AVG(len) AS avgdl FROM dl),
    tf0 AS (
      SELECT doc_id, w, COUNT(*) AS tf FROM toks
      WHERE w IN ('merge', 'shuffle', 'window') GROUP BY doc_id, w
    ),
    df0 AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tf0 GROUP BY w),
    base AS (
      SELECT tf0.doc_id,
             ROUND(SUM(
               LN(((SELECT n_docs FROM stats) - df0.df + 0.5)
                  / (df0.df + 0.5) + 1)
               * tf0.tf * 2.2
               / (tf0.tf + 1.2 * (0.25 + 0.75 * dl.len
                                  / (SELECT avgdl FROM stats)))
             ), 6) AS s
      FROM tf0 JOIN df0 USING (w) JOIN dl USING (doc_id)
      GROUP BY tf0.doc_id
    ),
    fb AS MATERIALIZED (
      SELECT doc_id FROM base ORDER BY s DESC, doc_id LIMIT 10
    ),
    exp_terms AS MATERIALIZED (
      SELECT w FROM toks JOIN fb USING (doc_id)
      WHERE w NOT IN ('merge', 'shuffle', 'window')
      GROUP BY w ORDER BY COUNT(*) DESC, w LIMIT 5
    ),
    terms AS MATERIALIZED (
      SELECT w FROM exp_terms
      UNION ALL SELECT UNNEST(['merge', 'shuffle', 'window'])
    ),
    tf AS (
      SELECT doc_id, w, COUNT(*) AS tf FROM toks
      WHERE w IN (SELECT w FROM terms) GROUP BY doc_id, w
    ),
    dfq AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY w),
    rescored AS (
      SELECT tf.doc_id,
             ROUND(SUM(
               LN(((SELECT n_docs FROM stats) - dfq.df + 0.5)
                  / (dfq.df + 0.5) + 1)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.len
                                 / (SELECT avgdl FROM stats)))
             ), 6) AS bm25
      FROM tf JOIN dfq USING (w) JOIN dl USING (doc_id)
      GROUP BY tf.doc_id
    )
    SELECT doc_id, bm25 FROM rescored ORDER BY bm25 DESC, doc_id LIMIT 20
"""


@query("text_rm3_expansion", oracle=_RM3_ORACLE)
def text_rm3_expansion(spark, sf_dir):
    """PSEUDO-RELEVANCE FEEDBACK query expansion (the RM3 shape,
    Lavrenko & Croft relevance models as Anserini popularized): run the
    seed BM25 query, take the top-10 feedback docs, harvest their 5
    most frequent non-seed terms, and RE-SCORE the corpus with the
    expanded term set — the recall-recovery stage of a lexical
    retrieval stack. Both scoring passes are the shared distributed
    BM25 scorer; the expansion term harvest is one aggregation over
    the feedback docs' postings (expansion terms collect driver-side —
    five strings, the query model itself). Determinism: every score
    rounds before every cut; expansion ties break alphabetically; the
    final top-20 breaks on (score, doc_id)."""
    seed = list(_BM25_TERMS)
    base = bm25_scores(spark, sf_dir, seed)
    fb = base.orderBy(F.desc("bm25"), "doc_id").limit(10).select("doc_id")
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    exp_rows = (
        toks.join(F.broadcast(fb), "doc_id")
        .filter(~F.col("w").isin(seed))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(5)
        .collect()
    )
    expanded = seed + [r["w"] for r in exp_rows]
    return (
        bm25_scores(spark, sf_dir, expanded)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


_BOILER = "subscribe to our newsletter click here to unsubscribe right now"
_SEG = 10  # tokens per segment ("line" stand-in: fixture texts have no newlines)
_BOILER_DF = 3  # segment is boilerplate when seen in >= this many docs

_BOILERPLATE_ORACLE = f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' {_BOILER}'
                  ELSE text END AS text
      FROM documents
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
    segs AS (
      SELECT doc_id,
             UNNEST(list_transform(range(len(toks) // {_SEG}),
                    i -> array_to_string(
                           list_slice(toks, i*{_SEG}+1, i*{_SEG}+{_SEG}), ' ')))
               AS seg
      FROM tok
    ),
    boiler AS (
      SELECT seg FROM segs GROUP BY seg
      HAVING COUNT(DISTINCT doc_id) >= {_BOILER_DF}
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segs,
           CAST(SUM(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler,
           ROUND(1.0 - SUM(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END)
                       * 1.0 / COUNT(*), 6) AS kept_frac
    FROM segs s LEFT JOIN boiler b USING (seg)
    GROUP BY s.doc_id
    """


@query("text_boilerplate_dedup", oracle=_BOILERPLATE_ORACLE)
def text_boilerplate_dedup(spark, sf_dir):
    """LINE-LEVEL boilerplate removal (the CCNet / RefinedWeb pass that
    strips headers, cookie banners and share buttons): hash every
    "line", count how many DISTINCT documents each line appears in, and
    drop lines above a document-frequency threshold. The fixture's
    texts carry no newlines, so the line unit is a fixed {_SEG}-token
    segment (documented adaptation; the pipeline shape — segment,
    global DF groupBy, join back, per-doc filter — is identical), and
    a known boilerplate segment is PLANTED onto every doc_id % 5 == 0
    before detection: those docs must report exactly one dropped
    segment and all others zero (random-vocabulary 10-gram collisions
    are ~45^-10). Cost: one segment explode, one groupBy, one join —
    the same one-shuffle shape at 100 TB, where the DF table is the
    only global state and is itself groupBy-sized."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat("text", F.lit(" " + _BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = d.select("doc_id", F.split("text", " ").alias("toks"))
    n_segs = F.floor(F.size("toks") / _SEG).cast("int")
    segs = toks.select(
        "doc_id",
        F.explode(
            F.when(
                n_segs >= 1,
                F.transform(
                    F.sequence(F.lit(0), n_segs - 1),
                    lambda i: F.array_join(
                        F.slice("toks", i * _SEG + 1, _SEG), " "
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("seg"),
    )
    boiler = (
        segs.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= _BOILER_DF)
        .select("seg", F.lit(1).alias("_hot"))
    )
    return (
        segs.join(F.broadcast(boiler), "seg", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_segs"),
            F.count("_hot").cast("long").alias("n_boiler"),
            F.round(1.0 - F.count("_hot") / F.count("*"), 6).alias(
                "kept_frac"
            ),
        )
    )


_BIGRAM_LAMBDA = 0.7  # interpolation weight on the bigram term


@query(
    "text_bigram_perplexity",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, pos, w AS word,
             LAG(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
      )
    ),
    uni AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
    ctx AS (SELECT prev, COUNT(*) AS ctx_cnt FROM tok
            WHERE prev IS NOT NULL GROUP BY prev),
    bi AS (SELECT prev, word, COUNT(*) AS bi_cnt FROM tok
           WHERE prev IS NOT NULL GROUP BY prev, word),
    stats AS (SELECT COUNT(*) AS n, COUNT(DISTINCT word) AS v FROM tok),
    lp AS (
      SELECT t.doc_id,
             CAST(FLOOR(LN(
               CASE WHEN t.prev IS NULL
                    THEN (u.cnt + 1.0) / (s.n + s.v)
                    ELSE {_BIGRAM_LAMBDA} * b.bi_cnt / c.ctx_cnt
                         + {1.0 - _BIGRAM_LAMBDA} * (u.cnt + 1.0) / (s.n + s.v)
               END) * 1000000) AS BIGINT) AS lp_micro
      FROM tok t
      JOIN uni u USING (word)
      LEFT JOIN ctx c ON c.prev = t.prev
      LEFT JOIN bi b ON b.prev = t.prev AND b.word = t.word
      CROSS JOIN stats s
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(lp_micro) AS BIGINT) AS logprob_micro,
           ROUND(-SUM(lp_micro) * 1.0 / COUNT(*) / 1000000, 6) AS avg_nll,
           ROUND(EXP(-SUM(lp_micro) * 1.0 / COUNT(*) / 1000000), 4) AS ppl
    FROM lp GROUP BY doc_id
    """,
)
def text_bigram_perplexity(spark, sf_dir):
    """INTERPOLATED BIGRAM-LM perplexity — the next rung above
    `text_perplexity_proxy`'s unigram (the KenLM-shaped score CCNet
    actually filters with is an interpolated n-gram model of exactly
    this form): p(w|prev) = lambda * c(prev,w)/c(prev) + (1-lambda) *
    p_uni(w), first token scored by the smoothed unigram. Trained on
    the corpus it scores (the CCNet arrangement), so every bigram has
    count >= 1 and the interpolation never needs an unseen branch.
    Same determinism discipline as the unigram: every token's log-prob
    quantizes to FLOOR micro-nats and sums as integers — float order
    can never move the hash — and per-doc perplexity derives from the
    exact integer sum. Scale: three count tables (unigram, context,
    bigram) from one token pass; the bigram join shuffles on the
    (prev, word) pair — the count tables are data-distributed, nothing
    is collected."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    tok = persist_tracked(
        docs.select("doc_id", "w", F.posexplode("w").alias("p0", "word"))
        .select(
            "doc_id",
            (F.col("p0") + 1).alias("pos"),
            "word",
            # prev guarded INSIDE one expression: posexplode's p0 is 0 for
            # every doc-initial token and element_at(col, 0) throws
            # INVALID_INDEX_OF_ZERO in Spark 4.x even with ANSI off — an
            # unguarded intermediate projection only survives while
            # CollapseProject keeps the CASE branch lazy (ADVICE r9 #1).
            F.when(
                F.col("p0") > 0, F.element_at("w", F.col("p0"))
            ).alias("prev"),
        )
    )
    uni = tok.groupBy("word").agg(F.count("*").alias("cnt"))
    ctx = (
        tok.filter(F.col("prev").isNotNull())
        .groupBy("prev")
        .agg(F.count("*").alias("ctx_cnt"))
    )
    bi = (
        tok.filter(F.col("prev").isNotNull())
        .groupBy("prev", "word")
        .agg(F.count("*").alias("bi_cnt"))
    )
    stats = tok.agg(
        F.count("*").alias("n"), F.countDistinct("word").alias("v")
    )
    lam = _BIGRAM_LAMBDA
    p_uni = (F.col("cnt") + 1.0) / (F.col("n") + F.col("v"))
    p_mix = (
        F.lit(lam) * F.col("bi_cnt") / F.col("ctx_cnt")
        + F.lit(1.0 - lam) * p_uni
    )
    lp = (
        tok.join(uni, "word")
        .join(ctx, "prev", "left")
        .join(bi, ["prev", "word"], "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(
                F.log(F.when(F.col("prev").isNull(), p_uni).otherwise(p_mix))
                * 1000000
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    avg = -F.sum("lp_micro") * 1.0 / F.count("*") / 1000000
    return lp.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("lp_micro").alias("logprob_micro"),
        F.round(avg, 6).alias("avg_nll"),
        F.round(F.exp(avg), 4).alias("ppl"),
    )


@query("text_bm25_persisted", oracle=_BM25_ORACLE)
def text_bm25_persisted(spark, sf_dir):
    """BM25 served from a PERSISTED inverted index — the lexical twin
    of `simsearch_ivf_persisted`'s build/serve separation: the FULL
    postings table (doc_id, w, tf; bucket-partitioned on the term so a
    query's terms prune to their buckets at scan time), the doc-length
    table, and the one-row corpus stats are built ONCE into warehouse
    snapshot tables; the serve path computes the same Okapi scores as
    `text_bm25_topk` from the STORED tables only — the documents table
    is never re-tokenized (never even read). At 100 TB this is how
    lexical retrieval actually runs: index build is a batch job, index
    refresh is a table append, and a query touches O(its terms'
    postings buckets). Same oracle as the fresh computation — a stale
    or partial index, a bucket-pruning bug, or stats drift flips the
    row red."""
    import os

    from hiveberg_spark.operators.timetravel import _lock, warehouse_dir
    from hiveberg_spark.sources.snapshot_table import build_once

    def build_postings(table):
        toks = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        )
        table.append(
            toks.groupBy("doc_id", "w").agg(
                F.count("*").cast("long").alias("tf")
            )
        )

    def build_lengths(table):
        toks = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        )
        table.append(
            toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("len"))
        )

    with _lock:
        wh = warehouse_dir(sf_dir)
        post_t = build_once(
            spark,
            os.path.join(wh, "bm25_postings"),
            build_postings,
            schema="doc_id long, w string, tf long",
            partition_spec=[("bucket", "w", 8)],
        )
        len_t = build_once(
            spark,
            os.path.join(wh, "bm25_lengths"),
            build_lengths,
            schema="doc_id long, len long",
        )
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    tf = post_t.scan_where(f"w IN ({terms})").select("doc_id", "w", "tf")
    dl = len_t.scan(virtual_column=None)
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("len").alias("avgdl"))
    df_ = tf.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    k1, b = _BM25_K1, _BM25_B
    idf = F.log(
        ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)) + 1
    )
    denom = F.col("tf") + k1 * ((1 - b) + b * F.col("len") / F.col("avgdl"))
    return (
        tf.join(F.broadcast(df_), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(idf * F.col("tf") * (k1 + 1) / denom), 6).alias(
                "bm25"
            )
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


_BM25_INC_ORACLE = _BM25_ORACLE.replace(
    "SELECT doc_id, ROUND(s, 6) AS bm25 FROM scored",
    "SELECT doc_id, ROUND(s, 6) AS bm25, TRUE AS incremental FROM scored",
)


@query("text_bm25_incremental", oracle=_BM25_INC_ORACLE)
def text_bm25_incremental(spark, sf_dir):
    """INCREMENTAL lexical-index maintenance — the refresh leg of the
    BM25 lifecycle (build-once: `text_bm25_persisted`), mirroring
    `simsearch_ivf_incremental` on the dense side: the corpus lives in
    a snapshot table taking two appends (even doc_ids, then odd); the
    postings and length tables are built from the FIRST snapshot (time
    travel), then refreshed by tokenizing ONLY the rows `scan_changes`
    returns for the second commit — refresh cost is O(new documents),
    never a corpus re-scan, and term-frequency rows are append-only
    because tf is per-document. Serving recomputes df/N/avgdl from the
    maintained tables (they aggregate cheaply at query time, so the
    incremental append needs no read-modify-write of corpus stats).
    Oracle = the SAME fresh full-corpus BM25 computation: any drift in
    the incremental read or the index appends flips the ranking."""
    import os

    from hiveberg_spark.operators.timetravel import _lock, warehouse_dir
    from hiveberg_spark.sources.snapshot_table import build_once

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def tokens(df):
        return df.select("doc_id", F.explode(F.split("text", " ")).alias("w"))

    with _lock:
        wh = warehouse_dir(sf_dir)

        def build_corpus(t):
            t.append(docs.filter(F.col("doc_id") % 2 == 0))
            t.append(docs.filter(F.col("doc_id") % 2 == 1))

        corpus_t = build_once(
            spark, os.path.join(wh, "bm25_inc_corpus"), build_corpus,
            schema=docs.schema,
        )
        s1 = corpus_t.first_snapshot_id()

        def build_post(t):
            base = tokens(corpus_t.scan(snapshot_id=s1, virtual_column=None))
            t.append(base.groupBy("doc_id", "w").agg(F.count("*").cast("long").alias("tf")))
            delta = tokens(corpus_t.scan_changes(s1, virtual_column=None))
            t.append(delta.groupBy("doc_id", "w").agg(F.count("*").cast("long").alias("tf")))

        def build_len(t):
            base = tokens(corpus_t.scan(snapshot_id=s1, virtual_column=None))
            t.append(base.groupBy("doc_id").agg(F.count("*").cast("long").alias("len")))
            delta = tokens(corpus_t.scan_changes(s1, virtual_column=None))
            t.append(delta.groupBy("doc_id").agg(F.count("*").cast("long").alias("len")))

        post_t = build_once(
            spark, os.path.join(wh, "bm25_inc_postings"), build_post,
            schema="doc_id long, w string, tf long",
            partition_spec=[("bucket", "w", 8)],
        )
        len_t = build_once(
            spark, os.path.join(wh, "bm25_inc_lengths"), build_len,
            schema="doc_id long, len long",
        )
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    tf = post_t.scan_where(f"w IN ({terms})").select("doc_id", "w", "tf")
    dl = len_t.scan(virtual_column=None)
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("len").alias("avgdl"))
    df_ = tf.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    k1, b = _BM25_K1, _BM25_B
    idf = F.log(
        ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)) + 1
    )
    denom = F.col("tf") + k1 * ((1 - b) + b * F.col("len") / F.col("avgdl"))
    return (
        tf.join(F.broadcast(df_), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(idf * F.col("tf") * (k1 + 1) / denom), 6).alias("bm25")
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
        .withColumn("incremental", F.lit(True))
    )


_BM25_STREAM_ORACLE = _BM25_ORACLE.replace(
    "SELECT doc_id, ROUND(s, 6) AS bm25 FROM scored",
    "SELECT doc_id, ROUND(s, 6) AS bm25, TRUE AS multi_batch FROM scored",
)


@query("text_bm25_stream_refresh", oracle=_BM25_STREAM_ORACLE)
def text_bm25_stream_refresh(spark, sf_dir):
    """STREAMING lexical-index maintenance — the third leg of the BM25
    lifecycle (build-once: `text_bm25_persisted`; batch refresh:
    `text_bm25_incremental`), mirroring `stream_ivf_refresh` on the
    dense side: the corpus snapshot table takes three appends (doc_id
    thirds) and a checkpointed Structured Streaming query (one
    micro-batch per commit via ordered tick files +
    maxFilesPerTrigger=1) tails it, tokenizing ONLY each batch's
    `scan_changes` delta and appending the new postings and length
    rows to the index tables. Per micro-batch cost is O(that commit's
    documents) — the index never sees a corpus re-scan, and tf/len
    rows are append-only because both are per-document. The oracle is
    the fresh full-corpus BM25 ranking plus `multi_batch` pinning that
    the commits really arrived as separate micro-batches (derived from
    applied snapshot RANGES, not a skip-sensitive counter)."""
    import os

    from hiveberg_spark.operators.snapshot_stream import (
        _appended,
        run_per_commit,
        stream_workspace,
    )
    from hiveberg_spark.sources.snapshot_table import SnapshotTable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with stream_workspace("hbs_bm25stream") as base:
        corpus = SnapshotTable.create(
            spark, os.path.join(base, "corpus"), schema=docs.schema
        )
        post_t = SnapshotTable.create(
            spark,
            os.path.join(base, "postings"),
            schema="doc_id long, w string, tf long",
        )
        len_t = SnapshotTable.create(
            spark, os.path.join(base, "lengths"), schema="doc_id long, len long"
        )
        sids = [
            corpus.append(docs.filter(F.col("doc_id") % 3 == r))
            for r in range(3)
        ]

        def on_range(lo, hi):
            delta = _appended(corpus, lo, hi)
            toks = delta.select(
                "doc_id", F.explode(F.split("text", " ")).alias("w")
            )
            post_t.append(
                toks.groupBy("doc_id", "w").agg(
                    F.count("*").cast("long").alias("tf")
                )
            )
            len_t.append(
                toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("len"))
            )

        multi_batch = len(run_per_commit(spark, base, sids, on_range)) > 1

        terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
        tf = (
            post_t.scan(virtual_column=None)
            .filter(F.expr(f"w IN ({terms})"))
            .select("doc_id", "w", "tf")
        )
        dl = len_t.scan(virtual_column=None)
        stats = dl.agg(F.count("*").alias("n_docs"), F.avg("len").alias("avgdl"))
        df_ = tf.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
        k1, b = _BM25_K1, _BM25_B
        idf = F.log(
            ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)) + 1
        )
        denom = F.col("tf") + k1 * ((1 - b) + b * F.col("len") / F.col("avgdl"))
        out = (
            tf.join(F.broadcast(df_), "w")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(
                F.round(F.sum(idf * F.col("tf") * (k1 + 1) / denom), 6).alias(
                    "bm25"
                )
            )
            .orderBy(F.desc("bm25"), "doc_id")
            .limit(20)
            .withColumn("multi_batch", F.lit(bool(multi_batch)))
        )
        return out.localCheckpoint()


# -- tokenizer fertility / bytes-per-token audit (round 9) --------------------


@query(
    "text_tokenizer_fertility",
    oracle="""
    WITH per_doc AS (
      SELECT source, lang,
             len(string_split(text, ' ')) AS n_words,
             len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
               AS n_bpe,
             LENGTH(text) AS n_bytes
      FROM documents
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           ROUND(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_words), 6) AS fertility,
           ROUND(CAST(SUM(n_bytes) AS DOUBLE) / SUM(n_bpe), 6)
             AS bytes_per_token
    FROM per_doc
    GROUP BY source, lang
    """,
)
def text_tokenizer_fertility(spark, sf_dir):
    """TOKENIZER FERTILITY audit — the per-(source, lang) table every
    multilingual-corpus report carries: fertility (subword tokens per
    whitespace word) and bytes-per-token quantify how expensive each
    slice is to train on under a given tokenizer (high-fertility
    languages consume budget faster and under-train per byte). Uses the
    house BPE-ish regex tokenizer (`text_bpe_ish_tokens`) as the
    subword stand-in. Shape: per-row JVM regex counts (no Python, no
    explode) then ONE groupBy over a low-cardinality (source, lang)
    key — map-side combinable, the cheapest audit in the stack at any
    scale. Ratios are one IEEE division of exact (<2^53) integer sums,
    rounded to 6 dp; token counts are integer-exact in both engines."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        "lang",
        F.size(F.split("text", " ")).alias("n_words"),
        F.size(
            F.regexp_extract_all(
                "text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0)
            )
        ).alias("n_bpe"),
        F.length("text").alias("n_bytes"),
    )
    return per_doc.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.sum("n_bpe").alias("total_bpe_tokens"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(
            F.sum("n_bpe").cast("double") / F.sum("n_words"), 6
        ).alias("fertility"),
        F.round(
            F.sum("n_bytes").cast("double") / F.sum("n_bpe"), 6
        ).alias("bytes_per_token"),
    )


@query(
    "text_ttr_hapax",
    oracle="""
    WITH tok AS (
      SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    freq AS (SELECT source, w, COUNT(*) AS f FROM tok GROUP BY source, w)
    SELECT source,
           CAST(SUM(f) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(*) FILTER (WHERE f = 1) AS BIGINT) AS n_hapax,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(f), 6) AS ttr,
           ROUND(CAST(COUNT(*) FILTER (WHERE f = 1) AS DOUBLE)
                 / COUNT(*), 6) AS hapax_rate
    FROM freq
    GROUP BY source
    """,
)
def text_ttr_hapax(spark, sf_dir):
    """LEXICAL DIVERSITY audit per source: type-token ratio and hapax-
    legomenon rate — the classic screens for template/boilerplate farms
    (TTR collapses when a source stamps the same page out) and for
    OCR/garbage sources (hapax rate spikes when noise mints new
    "words"). Shape: explode to (source, word), ONE groupBy to word
    frequencies (map-side combinable; key space = vocabulary, which
    grows sub-linearly in corpus size by Heaps' law), ONE low-
    cardinality per-source rollup — no joins, no windows, the same two
    shuffles at 100 TB. Counts integer-exact; ratios one IEEE division
    rounded to 6 dp."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("f"))
    )
    hapax = F.sum((F.col("f") == 1).cast("long"))
    return freq.groupBy("source").agg(
        F.sum("f").alias("n_tokens"),
        F.count("*").alias("n_types"),
        hapax.alias("n_hapax"),
        F.round(F.count("*").cast("double") / F.sum("f"), 6).alias("ttr"),
        F.round(hapax.cast("double") / F.count("*"), 6).alias("hapax_rate"),
    )


# -- Kneser-Ney bigram LM (round 9) ---------------------------------------------

_KN_D = 0.75  # absolute-discount mass (the standard KN default)


@query(
    "text_kneser_ney_bigram",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, pos, w AS word,
             LAG(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
      )
    ),
    uni AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
    ctx AS (SELECT prev, COUNT(*) AS ctx_cnt FROM tok
            WHERE prev IS NOT NULL GROUP BY prev),
    bi AS (SELECT prev, word, COUNT(*) AS bi_cnt FROM tok
           WHERE prev IS NOT NULL GROUP BY prev, word),
    fanout AS (SELECT prev, COUNT(*) AS n1p_fwd FROM bi GROUP BY prev),
    cont AS (SELECT word, COUNT(*) AS n1p_bwd FROM bi GROUP BY word),
    stats AS (
      SELECT (SELECT COUNT(*) FROM tok) AS n,
             (SELECT COUNT(DISTINCT word) FROM tok) AS v,
             (SELECT COUNT(*) FROM bi) AS t
    ),
    lp AS (
      SELECT tk.doc_id,
             CAST(FLOOR(LN(
               CASE WHEN tk.prev IS NULL
                    THEN (u.cnt + 1.0) / (s.n + s.v)
                    ELSE (b.bi_cnt - {_KN_D}) / c.ctx_cnt
                         + {_KN_D} * f.n1p_fwd / c.ctx_cnt
                           * (co.n1p_bwd * 1.0 / s.t)
               END) * 1000000) AS BIGINT) AS lp_micro
      FROM tok tk
      JOIN uni u USING (word)
      LEFT JOIN ctx c ON c.prev = tk.prev
      LEFT JOIN bi b ON b.prev = tk.prev AND b.word = tk.word
      LEFT JOIN fanout f ON f.prev = tk.prev
      LEFT JOIN cont co ON co.word = tk.word
      CROSS JOIN stats s
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(lp_micro) AS BIGINT) AS logprob_micro,
           ROUND(-SUM(lp_micro) * 1.0 / COUNT(*) / 1000000, 6) AS avg_nll,
           ROUND(EXP(-SUM(lp_micro) * 1.0 / COUNT(*) / 1000000), 4) AS ppl
    FROM lp GROUP BY doc_id
    """,
)
def text_kneser_ney_bigram(spark, sf_dir):
    """KNESER-NEY bigram perplexity — the smoothing real n-gram LMs
    (KenLM, SRILM defaults) actually ship, completing the LM ladder
    above `text_perplexity_proxy` (unigram) and `text_bigram_perplexity`
    (interpolated): p(w|prev) = max(c(prev,w)−D, 0)/c(prev) +
    D·N1+(prev,·)/c(prev) · p_cont(w), with the CONTINUATION probability
    p_cont(w) = N1+(·,w)/|bigram types| — the "how many contexts does w
    follow" correction that makes 'Francisco' cheap despite its raw
    frequency. Trained on the corpus it scores, so c(prev,w) ≥ 1 > D
    and the max() never truncates; doc-initial tokens score by the
    add-one unigram (a doc-initial-only word has no continuation mass).
    Determinism: all five count tables are exact integers; each token's
    log-prob is a fixed IEEE expression FLOOR-quantized to micro-nats
    and summed as integers. Scale: the same one-token-pass count tables
    as the interpolated model plus two cheap distinct-count rollups OF
    the bigram table — no new corpus scans."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    tok = persist_tracked(
        docs.select("doc_id", "w", F.posexplode("w").alias("p0", "word"))
        .select(
            "doc_id",
            (F.col("p0") + 1).alias("pos"),
            "word",
            # prev guarded INSIDE one expression: posexplode's p0 is 0 for
            # every doc-initial token and element_at(col, 0) throws
            # INVALID_INDEX_OF_ZERO in Spark 4.x even with ANSI off — an
            # unguarded intermediate projection only survives while
            # CollapseProject keeps the CASE branch lazy (ADVICE r9 #1).
            F.when(
                F.col("p0") > 0, F.element_at("w", F.col("p0"))
            ).alias("prev"),
        )
    )
    uni = tok.groupBy("word").agg(F.count("*").alias("cnt"))
    ctx = (
        tok.filter(F.col("prev").isNotNull())
        .groupBy("prev")
        .agg(F.count("*").alias("ctx_cnt"))
    )
    bi = persist_tracked(
        tok.filter(F.col("prev").isNotNull())
        .groupBy("prev", "word")
        .agg(F.count("*").alias("bi_cnt"))
    )
    fanout = bi.groupBy("prev").agg(F.count("*").alias("n1p_fwd"))
    cont = bi.groupBy("word").agg(F.count("*").alias("n1p_bwd"))
    # Round 15 (guide §2.4): uni+cont share the `word` key and
    # ctx+fanout share the `prev` key, so the count tables pre-merge
    # into one table per key (two vocab-sized joins) and the CORPUS
    # frame is joined 3 times instead of 5 — two fewer passes over the
    # token frame at any scale. Left-join semantics are preserved:
    # uni stays the inner gate exactly as before (every token's word is
    # in uni), cont may miss doc-initial-only words (left), and ctx/
    # fanout are built from the same observed-prev key set (left ≡
    # inner between them; both left onto tok as before).
    wtab = uni.join(cont, "word", "left")
    ptab = ctx.join(fanout, "prev", "left")
    stats = tok.agg(
        F.count("*").alias("n"), F.countDistinct("word").alias("v")
    ).crossJoin(bi.agg(F.count("*").alias("t")))
    d = _KN_D
    p_first = (F.col("cnt") + 1.0) / (F.col("n") + F.col("v"))
    p_kn = (F.col("bi_cnt") - d) / F.col("ctx_cnt") + F.lit(d) * F.col(
        "n1p_fwd"
    ) / F.col("ctx_cnt") * (F.col("n1p_bwd") * 1.0 / F.col("t"))
    lp = (
        tok.join(wtab, "word")
        .join(ptab, "prev", "left")
        .join(bi, ["prev", "word"], "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(
                F.log(
                    F.when(F.col("prev").isNull(), p_first).otherwise(p_kn)
                )
                * 1000000
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    avg = -F.sum("lp_micro") * 1.0 / F.count("*") / 1000000
    return lp.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("lp_micro").alias("logprob_micro"),
        F.round(avg, 6).alias("avg_nll"),
        F.round(F.exp(avg), 4).alias("ppl"),
    )


# -- language-ID confusion matrix (round 9) ---------------------------------------


@query(
    "text_langid_confusion",
    oracle="""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    votes AS (
      SELECT doc_id, lang,
        len(list_filter(toks, w -> list_contains(['the','a','and','of','to'], w))) AS v_en,
        len(list_filter(toks, w -> list_contains(['der','die','das','und','zu'], w))) AS v_de,
        len(list_filter(toks, w -> list_contains(['le','la','et','les','des'], w))) AS v_fr,
        len(list_filter(toks, w -> list_contains(['el','la','los','y','de'], w))) AS v_es
      FROM t
    ),
    pred AS (
      SELECT lang AS labeled_lang,
             CASE WHEN GREATEST(v_en, v_de, v_fr, v_es) = 0 THEN 'und'
                  WHEN v_en >= GREATEST(v_de, v_fr, v_es) THEN 'en'
                  WHEN v_de >= GREATEST(v_fr, v_es) THEN 'de'
                  WHEN v_fr >= v_es THEN 'fr'
                  ELSE 'es' END AS predicted_lang
      FROM votes
    ),
    tot AS (SELECT labeled_lang, COUNT(*) AS n_lang FROM pred GROUP BY 1)
    SELECT p.labeled_lang, p.predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(t.n_lang), 6) AS rate
    FROM pred p JOIN tot t USING (labeled_lang)
    GROUP BY p.labeled_lang, p.predicted_lang
    """,
)
def text_langid_confusion(spark, sf_dir):
    """LANGUAGE-ID CONFUSION MATRIX — the calibration audit run before
    trusting a language classifier to route a multilingual corpus
    (mislabeled language slices poison per-language mixtures): per
    (labeled, predicted) pair, the doc count and the share of the
    label's total. Composes the REGISTERED `text_langid_heuristic`
    pipeline (same stopword votes, same tie priority) with one extra
    low-cardinality rollup — at 100 TB the matrix costs one groupBy
    over the per-doc predictions a routing pass already computed.
    Counts exact; rate is one IEEE division, 6 dp."""
    pred = QUERIES["text_langid_heuristic"](spark, sf_dir).select(
        "labeled_lang", "predicted_lang"
    )
    tot = pred.groupBy("labeled_lang").agg(F.count("*").alias("n_lang"))
    return (
        pred.groupBy("labeled_lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
        .join(tot, "labeled_lang")
        .select(
            "labeled_lang",
            "predicted_lang",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_lang"), 6).alias(
                "rate"
            ),
        )
    )


# -- winnowing fingerprints (round 9, wave 7) --------------------------------------

_WINNOW_K = 3  # tokens per k-gram
_WINNOW_W = 4  # k-gram hashes per winnowing window


@query(
    "text_winnowing",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    kg AS (
      SELECT doc_id, i AS p,
             md5(array_to_string(w[i:i+{_WINNOW_K - 1}], ' ')) AS m,
             len(w) - {_WINNOW_K - 1} AS n_kgrams
      FROM docs, UNNEST(range(1, GREATEST(len(w) - {_WINNOW_K - 2}, 1))) AS t(i)
      WHERE len(w) >= {_WINNOW_K}
    ),
    hashed AS (
      SELECT doc_id, p, n_kgrams,
             (strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 1048576
             + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 65536
             + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(m, 5, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(m, 6, 1)) - 1) AS h
      FROM kg
    ),
    mins AS (
      SELECT doc_id, p, n_kgrams,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN CURRENT ROW
                          AND {_WINNOW_W - 1} FOLLOWING) AS wmin
      FROM hashed
    )
    SELECT doc_id,
           CAST(MAX(n_kgrams) AS BIGINT) AS n_kgrams,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COUNT(DISTINCT wmin) AS BIGINT) AS n_fingerprints,
           ROUND(CAST(COUNT(DISTINCT wmin) AS DOUBLE) / COUNT(*), 6)
             AS density
    FROM mins
    WHERE p <= n_kgrams - {_WINNOW_W - 1}
    GROUP BY doc_id
    """,
)
def text_winnowing(spark, sf_dir):
    """WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every {_WINNOW_K}-gram,
    slide a window of {_WINNOW_W} consecutive hashes, and keep each
    window's MINIMUM — the classic guarantee that any shared substring
    of length k+w-1 tokens contributes at least one shared fingerprint,
    at expected density 2/(w+1) of the k-gram count. Emitted per doc:
    k-gram/window/fingerprint counts and the selection density (the
    storage-budget dial). The hash is a cross-engine pure function —
    six md5 hex digits position-decoded to a 24-bit integer — so the
    fingerprint SETS (not just counts) agree between engines and the
    distinct-min count is exact. Shape: one posexplode + one
    running-min window per doc + one groupBy; the window partitions by
    doc_id, so parallelism is per-document at any corpus size."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= _WINNOW_K)
    k = _WINNOW_K
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - (k - 1)),
        lambda i: F.array_join(F.slice("w", i, k), " "),
    )
    kg = d.select(
        "doc_id",
        (F.size("w") - (k - 1)).alias("n_kgrams"),
        F.posexplode(grams).alias("p0", "g"),
    ).select(
        "doc_id", "n_kgrams", (F.col("p0") + 1).alias("p"), F.md5("g").alias("m")
    )
    hexes = "0123456789abcdef"
    h = sum(
        (F.instr(F.lit(hexes), F.substring("m", i + 1, 1)) - 1)
        * (16 ** (5 - i))
        for i in range(6)
    )
    hashed = kg.select("doc_id", "p", "n_kgrams", h.alias("h"))
    wfr = (
        W.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(0, _WINNOW_W - 1)
    )
    mins = hashed.select(
        "doc_id", "p", "n_kgrams", F.min("h").over(wfr).alias("wmin")
    ).filter(F.col("p") <= F.col("n_kgrams") - (_WINNOW_W - 1))
    return mins.groupBy("doc_id").agg(
        F.max("n_kgrams").alias("n_kgrams"),
        F.count("*").alias("n_windows"),
        F.countDistinct("wmin").alias("n_fingerprints"),
        F.round(
            F.countDistinct("wmin").cast("double") / F.count("*"), 6
        ).alias("density"),
    )


# -- per-source distinctive terms (round 9, wave 9) ---------------------------------

_LIFT_TOP_K = 3
_LIFT_MIN_COUNT = 5  # ignore terms too rare to characterize anything


@query(
    "text_source_distinctive_terms",
    oracle=f"""
    WITH tok AS (
      SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    per_src AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    src_tot AS (SELECT source, SUM(c) AS st FROM per_src GROUP BY source),
    term_tot AS (SELECT w, SUM(c) AS tt FROM per_src GROUP BY w),
    corpus AS (SELECT SUM(c) AS n FROM per_src),
    lift AS (
      SELECT p.source, p.w, p.c,
             CAST(FLOOR(LN((p.c * 1.0 / s.st) / (t.tt * 1.0 / co.n))
                        * 1000000) AS BIGINT) AS lift_micro
      FROM per_src p
      JOIN src_tot s USING (source)
      JOIN term_tot t USING (w)
      CROSS JOIN corpus co
      WHERE p.c >= {_LIFT_MIN_COUNT}
    )
    SELECT source, w AS term, CAST(c AS BIGINT) AS term_count,
           lift_micro, CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY lift_micro DESC, w) AS rn
      FROM lift
    ) WHERE rn <= {_LIFT_TOP_K}
    """,
)
def text_source_distinctive_terms(spark, sf_dir):
    """PER-SOURCE DISTINCTIVE TERMS — "what characterizes each slice"
    by log-lift ln(p(term|source)/p(term)), the corpus-exploration
    audit run before weighting or filtering a source (a source whose
    top-lift terms are spam vocabulary gets gated; `text_tfidf_top_terms`
    is the per-DOCUMENT analog). Terms below {_LIFT_MIN_COUNT}
    occurrences are ignored; top {_LIFT_TOP_K} per source with
    deterministic ties (lift, then term). Determinism: counts are exact
    integers, the lift is FLOOR-quantized to integer micro-nats before
    ranking (the house LM discipline — float ordering can never flip a
    rank). Shape: one token explode + three count tables + a rank
    window over (source, qualifying-term) pairs."""
    from pyspark.sql import Window as W

    tok = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    per_src = persist_tracked(tok.groupBy("source", "w").agg(F.count("*").alias("c")))
    src_tot = per_src.groupBy("source").agg(F.sum("c").alias("st"))
    term_tot = per_src.groupBy("w").agg(F.sum("c").alias("tt"))
    corpus = per_src.agg(F.sum("c").alias("n"))
    lift = (
        per_src.filter(F.col("c") >= _LIFT_MIN_COUNT)
        .join(src_tot, "source")
        .join(term_tot, "w")
        .crossJoin(F.broadcast(corpus))
        .select(
            "source",
            "w",
            "c",
            F.floor(
                F.log(
                    (F.col("c") * 1.0 / F.col("st"))
                    / (F.col("tt") * 1.0 / F.col("n"))
                )
                * 1000000
            )
            .cast("long")
            .alias("lift_micro"),
        )
    )
    w = W.partitionBy("source").orderBy(F.desc("lift_micro"), F.asc("w"))
    return (
        lift.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _LIFT_TOP_K)
        .select(
            "source",
            F.col("w").alias("term"),
            F.col("c").alias("term_count"),
            "lift_micro",
            F.col("rn").cast("long").alias("rank"),
        )
    )


# -- tokenizer-vocabulary OOV audit (round 10) --------------------------------------

#: audit vocabulary size (top-K corpus words)
_OOV_VOCAB_K = 200


@query(
    "text_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    tk AS (SELECT source, w FROM tok WHERE w <> ''),
    freq AS (SELECT w, COUNT(*) AS c FROM tk GROUP BY w),
    vocab AS (
      SELECT w FROM freq ORDER BY c DESC, w LIMIT {_OOV_VOCAB_K}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           ROUND(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS oov_rate
    FROM tk LEFT JOIN vocab v USING (w)
    GROUP BY source
    """,
)
def text_oov_rate(spark, sf_dir):
    """OUT-OF-VOCABULARY rate per source — the tokenizer-coverage audit
    a training pipeline runs before committing to a vocabulary: build
    the top-{_OOV_VOCAB_K} word vocabulary from the corpus itself
    (ties at the cutoff break on the word, so the vocab set is
    deterministic), then measure what fraction of each source's tokens
    fall outside it. High OOV flags a source the tokenizer will
    shatter into bytes (cost amplification — `text_tokenizer_fertility`
    is the per-token twin of this per-source view). Scale: one word
    shuffle with map-side combine for the frequency table, TakeOrdered
    for the bounded vocab head, then a BROADCAST join of the
    {_OOV_VOCAB_K}-row vocab against the token stream + one source-
    keyed aggregate — the token stream itself is never reshuffled."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    vocab = (
        tk.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(_OOV_VOCAB_K)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    return (
        tk.join(F.broadcast(vocab), "w", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).alias("oov_tokens"),
            F.round(
                F.sum(
                    F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
                )
                * 1.0
                / F.count("*"),
                6,
            ).alias("oov_rate"),
        )
    )


# -- top-k vocabulary coverage curve (round 10) -------------------------------------

_COVERAGE_KS = (10, 100, 1000)


@query(
    "text_topk_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    tk AS (SELECT w FROM tok WHERE w <> ''),
    freq AS (SELECT w, COUNT(*) AS c FROM tk GROUP BY w),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rn FROM freq
    ),
    tot AS (SELECT SUM(c) AS total_tokens FROM freq)
    SELECT k,
           CAST((SELECT SUM(c) FROM ranked WHERE rn <= k) AS BIGINT)
             AS covered_tokens,
           CAST(tot.total_tokens AS BIGINT) AS total_tokens,
           ROUND((SELECT SUM(c) FROM ranked WHERE rn <= k) * 1.0
                 / tot.total_tokens, 6) AS coverage
    FROM (VALUES {", ".join(f"({k})" for k in _COVERAGE_KS)}) AS ks(k),
         tot
    """,
)
def text_topk_coverage(spark, sf_dir):
    """TOP-K VOCABULARY COVERAGE curve — what fraction of all corpus
    tokens the k most frequent words account for, at k = {_COVERAGE_KS}
    (the Zipf-concentration audit behind vocabulary sizing and
    stop-word policy: a corpus where 10 words cover half the tokens
    needs different dedup shingling and tokenizer choices than a flat
    one). Ties at each cutoff break on the word, so the cover set is
    deterministic. Scale: ONE word-keyed count aggregate (map-side
    combine) feeds a TakeOrdered head of max(k) = {max(_COVERAGE_KS)}
    rows; the coverage sums run on that bounded head crossed with the
    one-row corpus total — the token stream is never re-shuffled and
    no vocabulary-wide window exists."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    tot = freq.agg(F.sum("c").alias("total_tokens"))
    head = (
        freq.orderBy(F.desc("c"), F.asc("w"))
        .limit(max(_COVERAGE_KS))
        .withColumn(
            "rn",
            F.row_number().over(W.orderBy(F.desc("c"), F.asc("w"))),
        )
    )
    ks = F.array(*[F.lit(k) for k in _COVERAGE_KS])
    per_k = (
        head.select(F.explode(ks).alias("k"), "c", "rn")
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("c").alias("covered_tokens"))
    )
    return per_k.crossJoin(F.broadcast(tot)).select(
        "k",
        "covered_tokens",
        "total_tokens",
        F.round(
            F.col("covered_tokens") * 1.0 / F.col("total_tokens"), 6
        ).alias("coverage"),
    )


# -- per-source KL drift vs corpus (round 10) ---------------------------------------


@query(
    "text_source_kl_drift",
    oracle="""
    WITH tok AS (
      SELECT source, w FROM (
        SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents
      ) WHERE w <> ''
    ),
    cw AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    stats AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM cw),
    lc AS (
      SELECT w, c,
             CAST(FLOOR(LN((c + 1.0) / (stats.n + stats.v))
                        * 1000000000) AS BIGINT) AS l
      FROM cw, stats
    ),
    lall AS (SELECT SUM(l) AS l_all FROM lc),
    sw AS (SELECT source, w, COUNT(*) AS cs FROM tok GROUP BY source, w),
    ss AS (
      SELECT source, SUM(cs) AS n_s, COUNT(*) AS v_s
      FROM sw GROUP BY source
    ),
    pres AS (
      SELECT sw.source,
             SUM(CAST(FLOOR(
               ((sw.cs + 1.0) / (ss.n_s + stats.v))
               * (LN((sw.cs + 1.0) / (ss.n_s + stats.v))
                  - LN((lc.c + 1.0) / (stats.n + stats.v)))
               * 1000000000) AS BIGINT)) AS a_s,
             SUM(lc.l) AS l_pres
      FROM sw JOIN lc USING (w) JOIN ss ON sw.source = ss.source, stats
      GROUP BY sw.source
    )
    SELECT ss.source,
           CAST(ss.n_s AS BIGINT) AS n_tokens,
           CAST(ss.v_s AS BIGINT) AS vocab_present,
           ROUND((pres.a_s
                  + (stats.v - ss.v_s)
                    * CAST(FLOOR((1.0 / (ss.n_s + stats.v))
                                 * LN(1.0 / (ss.n_s + stats.v))
                                 * 1000000000) AS BIGINT)
                  - (1.0 / (ss.n_s + stats.v))
                    * (lall.l_all - pres.l_pres)
                 ) / 1000000000, 6) AS kl_nats
    FROM ss JOIN pres USING (source), stats, lall
    """,
)
def text_source_kl_drift(spark, sf_dir):
    """PER-SOURCE KL DIVERGENCE vs the corpus — the information-
    theoretic drift audit (which source's unigram distribution departs
    most from the mix: the scalar summary over `text_source_
    distinctive_terms`' per-word view): KL(P_s || P_corpus) over the
    FULL shared vocabulary with add-one smoothing on both sides.

    The absent-word mass is handled in CLOSED FORM, never materialized:
    sum over words missing from a source of q·(ln q − ln p_c(w)) =
    (V − V_s)·q·ln q − q·(Σ_vocab ln p_c − Σ_present ln p_c), so the
    only per-(source, word) work is on PRESENT pairs — no vocab ×
    sources grid at any scale. Determinism: every summed term is
    FLOOR-quantized to integer nano-nats before aggregation (float
    order can't drift the result — the `text_perplexity_proxy`
    discipline); the two closing scalar ops per source run once on
    exact integers. Scale: two word-keyed count aggregates, one
    bounded-vocab log table joined back to the per-source counts, and
    #sources-row reductions."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    cw = tok.groupBy("w").agg(F.count("*").alias("c"))
    stats = cw.agg(F.sum("c").alias("n"), F.count("*").alias("v"))
    lc = cw.crossJoin(F.broadcast(stats)).select(
        "w",
        "c",
        F.floor(
            F.log((F.col("c") + 1.0) / (F.col("n") + F.col("v")))
            * F.lit(1000000000)
        )
        .cast("long")
        .alias("l"),
    )
    lall = lc.agg(F.sum("l").alias("l_all"))
    sw = tok.groupBy("source", "w").agg(F.count("*").alias("cs"))
    ss = sw.groupBy("source").agg(
        F.sum("cs").alias("n_s"), F.count("*").alias("v_s")
    )
    ps = (F.col("cs") + 1.0) / (F.col("n_s") + F.col("v"))
    pc = (F.col("c") + 1.0) / (F.col("n") + F.col("v"))
    pres = (
        sw.join(lc, "w")
        .join(ss, "source")
        .crossJoin(F.broadcast(stats))
        .select(
            "source",
            F.floor(ps * (F.log(ps) - F.log(pc)) * F.lit(1000000000))
            .cast("long")
            .alias("a_term"),
            "l",
        )
        .groupBy("source")
        .agg(F.sum("a_term").alias("a_s"), F.sum("l").alias("l_pres"))
    )
    q = 1.0 / (F.col("n_s") + F.col("v"))
    fq = F.floor(q * F.log(q) * F.lit(1000000000)).cast("long")
    return (
        ss.join(pres, "source")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(lall))
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            F.col("v_s").alias("vocab_present"),
            F.round(
                (
                    F.col("a_s")
                    + (F.col("v") - F.col("v_s")) * fq
                    - q * (F.col("l_all") - F.col("l_pres"))
                )
                / F.lit(1000000000),
                6,
            ).alias("kl_nats"),
        )
    )


# -- character-entropy quality proxy (round 10) -------------------------------------


@query(
    "text_char_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id, UNNEST(string_split(text, '')) AS c FROM documents
    ),
    cc AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY doc_id, c),
    dl AS (SELECT doc_id, SUM(k) AS n FROM cc GROUP BY doc_id),
    terms AS (
      SELECT cc.doc_id,
             CAST(FLOOR((cc.k * 1.0 / dl.n)
                        * LN(cc.k * 1.0 / dl.n)
                        * 1000000000) AS BIGINT) AS t
      FROM cc JOIN dl USING (doc_id)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
           ROUND(-SUM(t) / 1000000000.0, 6) AS entropy_nats
    FROM terms GROUP BY doc_id
    """,
)
def text_char_entropy(spark, sf_dir):
    """CHARACTER-LEVEL SHANNON ENTROPY per document — the compression-
    ratio quality proxy (machine-generated/templated text compresses
    well = low char entropy; encrypted/binary junk pasted into a crawl
    spikes it), the cheap sibling of the token-level perplexity ladder.
    Each term p·ln p is FLOOR-quantized to integer nano-nats before the
    per-doc sum (the repo's standard order-free float discipline).
    Scale: chars collapse to (doc, char) counts in one keyed aggregate
    (alphabet-bounded per doc); everything after runs on that frame."""
    d = load_table(spark, sf_dir, "documents")
    ch = d.select("doc_id", F.explode(F.split("text", "")).alias("c"))
    cc = ch.groupBy("doc_id", "c").agg(F.count("*").alias("k"))
    dl = cc.groupBy("doc_id").agg(F.sum("k").alias("n"))
    p = F.col("k") * 1.0 / F.col("n")
    terms = cc.join(dl, "doc_id").select(
        "doc_id",
        F.floor(p * F.log(p) * F.lit(1000000000)).cast("long").alias("t"),
    )
    return terms.groupBy("doc_id").agg(
        F.count("*").alias("n_distinct_chars"),
        F.round(-F.sum("t") / F.lit(1000000000.0), 6).alias("entropy_nats"),
    )


# -- conditional bigram entropy rate (round 10, wave 6) ------------------------------


@query(
    "text_bigram_entropy_rate",
    oracle="""
    WITH docs AS (
      SELECT source, regexp_split_to_array(text, ' ') AS w FROM documents
    ),
    bg AS (
      SELECT source, w[i] AS w1, w[i+1] AS w2
      FROM docs, UNNEST(generate_series(1, len(w)-1)) AS t(i)
    ),
    c12 AS (SELECT source, w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2, 3),
    c1 AS (SELECT source, w1, SUM(c12) AS c1 FROM c12 GROUP BY 1, 2),
    t AS (SELECT source, SUM(c12) AS tot FROM c12 GROUP BY 1)
    SELECT c.source, CAST(MAX(t.tot) AS BIGINT) AS n_bigrams,
           ROUND(SUM(c.c12 * CAST(FLOOR(LN(c1.c1 * 1.0 / c.c12) * 1000000)
                               AS BIGINT)) * 1.0
                 / (MAX(t.tot) * 1000000.0), 6) AS cond_entropy_nats
    FROM c12 c JOIN c1 ON c1.source = c.source AND c1.w1 = c.w1
               JOIN t ON t.source = c.source
    GROUP BY c.source
    """,
)
def text_bigram_entropy_rate(spark, sf_dir):
    """CONDITIONAL bigram entropy rate per source — H(w2|w1) =
    Σ p(w1,w2)·ln(c(w1)/c(w1,w2)) in nats: the information-theoretic
    repetitiveness audit (template farms and boilerplate-heavy sources
    score LOW because the next word is predictable; organic text scores
    near the corpus ceiling). Complements text_char_entropy (character-
    level, per doc) and the KN/unigram perplexity family (model fit, not
    source structure). Determinism: each ln term quantizes to integer
    micro-nats (FLOOR(ln·1e6), the established trick) and weights by the
    integer bigram count, so the per-source sum is exact integer
    arithmetic; one double division closes each source. Scale: bigram →
    count-table keyed aggregations and two keyed joins on (source, w1) /
    (source) — the text_kneser_ney_bigram posture, nothing pairwise, no
    windows."""
    d = load_table(spark, sf_dir, "documents")
    w = F.col("w")
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(w) - 2),
        lambda i: F.struct(
            F.element_at(w, i + 1).alias("w1"),
            F.element_at(w, i + 2).alias("w2"),
        ),
    )
    bg = (
        d.select("source", F.split("text", " ").alias("w"))
        .filter(F.size(w) >= 2)
        .select("source", F.explode(pairs).alias("p"))
        .select("source", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c12 = persist_tracked(
        bg.groupBy("source", "w1", "w2").agg(F.count("*").alias("c12"))
    )  # consumed by c1, t, and the scoring join
    c1 = c12.groupBy("source", "w1").agg(F.sum("c12").alias("c1"))
    t = c12.groupBy("source").agg(F.sum("c12").alias("tot"))
    term = F.col("c12") * F.floor(
        F.log(F.col("c1") * 1.0 / F.col("c12")) * 1000000
    ).cast("long")
    return (
        c12.join(c1, ["source", "w1"])
        .join(t, "source")
        .groupBy("source")
        .agg(
            F.max("tot").alias("n_bigrams"),
            F.round(
                F.sum(term) * 1.0 / (F.max("tot") * 1000000.0), 6
            ).alias("cond_entropy_nats"),
        )
    )


# -- Good-Turing unseen mass (round 10, wave 7) --------------------------------------


@query(
    "text_good_turing_mass",
    oracle="""
    WITH docs AS (SELECT source, string_split(text, ' ') AS w FROM documents),
    bg AS (SELECT source, w[i] || ' ' || w[i+1] AS b
           FROM docs, UNNEST(generate_series(1, len(w)-1)) AS t(i)),
    c AS (SELECT source, b, COUNT(*) AS cnt FROM bg GROUP BY 1, 2)
    SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(count_if(cnt = 1) AS BIGINT) AS n_singletons,
           ROUND(count_if(cnt = 1) * 1.0 / SUM(cnt), 6) AS unseen_mass
    FROM c GROUP BY source
    """,
)
def text_good_turing_mass(spark, sf_dir):
    """GOOD-TURING unseen-probability mass per source: P(next bigram is
    NOVEL) ≈ N1/N, the singleton share of the bigram token count — the
    classical estimate behind every smoothed LM (it is literally the
    mass Kneser-Ney's discount redistributes) and the coverage audit
    that says how much of a source's distribution a trained model has
    never seen. Bigram types (not the tiny fixture unigram vocab) make
    the statistic non-degenerate. Exact integer counts; one double
    division per source row. Scale: two keyed aggregations over the
    bigram count table — the text_bigram_entropy_rate posture."""
    d = load_table(spark, sf_dir, "documents")
    w = F.col("w")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(w) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(w, i + 1), F.element_at(w, i + 2)
        ),
    )
    bg = (
        d.select("source", F.split("text", " ").alias("w"))
        .filter(F.size(w) >= 2)
        .select("source", F.explode(bigrams).alias("b"))
    )
    c = bg.groupBy("source", "b").agg(F.count("*").alias("cnt"))
    return c.groupBy("source").agg(
        F.sum("cnt").alias("n_bigrams"),
        F.count("*").alias("n_types"),
        F.count_if(F.col("cnt") == 1).alias("n_singletons"),
        F.round(
            F.count_if(F.col("cnt") == 1) * 1.0 / F.sum("cnt"), 6
        ).alias("unseen_mass"),
    )


# -- hashing-trick collision audit (round 10, wave 7) --------------------------------


@query(
    "text_hashing_trick_collisions",
    oracle="""
    WITH docs AS (SELECT string_split(text, ' ') AS w FROM documents),
    v AS (SELECT DISTINCT w[i] || ' ' || w[i+1] AS b
          FROM docs, UNNEST(generate_series(1, len(w)-1)) AS t(i)),
    h AS (SELECT b, CAST('0x' || substr(md5(b), 1, 8) AS BIGINT) % 4096
                 AS bucket FROM v),
    loads AS (SELECT bucket, COUNT(*) AS load FROM h GROUP BY bucket)
    SELECT CAST(SUM(load) AS BIGINT) AS n_features,
           CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
           ROUND(1.0 - COUNT(*) * 1.0 / SUM(load), 6) AS collision_rate,
           CAST(MAX(load) AS BIGINT) AS max_bucket_load
    FROM loads
    """,
)
def text_hashing_trick_collisions(spark, sf_dir):
    """HASHING-TRICK collision audit: the distinct bigram feature space
    hashed into 4096 buckets (the same md5-prefix hash family as the
    engine's A/B arm split and shard manifest), reporting how many
    features collide and the worst bucket load — the dimensioning study
    run before committing to a hashed feature width for
    text_hashed_classifier. Exact integer bucket arithmetic both
    engines. Scale: one distinct over the bigram vocabulary (types, not
    tokens) and one bucket-keyed count — vocabulary-sized work."""
    d = load_table(spark, sf_dir, "documents")
    w = F.col("w")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(w) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(w, i + 1), F.element_at(w, i + 2)
        ),
    )
    v = (
        d.select(F.split("text", " ").alias("w"))
        .filter(F.size(w) >= 2)
        .select(F.explode(bigrams).alias("b"))
        .distinct()
    )
    h = v.select(
        F.pmod(
            F.conv(F.substring(F.md5("b"), 1, 8), 16, 10).cast("long"),
            F.lit(4096),
        ).alias("bucket")
    )
    loads = h.groupBy("bucket").agg(F.count("*").alias("load"))
    return loads.agg(
        F.sum("load").alias("n_features"),
        F.count("*").alias("n_buckets_used"),
        F.round(1.0 - F.count("*") * 1.0 / F.sum("load"), 6).alias(
            "collision_rate"
        ),
        F.max("load").alias("max_bucket_load"),
    )


# -- source-similarity Jaccard matrix (round 10, wave 10) ----------------------------


@query(
    "text_source_jaccard_matrix",
    oracle="""
    WITH docs AS (SELECT source, string_split(text, ' ') AS w FROM documents),
    v AS (SELECT DISTINCT source, w[i] || ' ' || w[i+1] AS b
          FROM docs, UNNEST(generate_series(1, len(w)-1)) AS t(i)),
    sz AS (SELECT source, COUNT(*) AS n FROM v GROUP BY 1),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM v a JOIN v b ON a.b = b.b AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, CAST(n_common AS BIGINT) AS n_common,
           ROUND(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter JOIN sz sa ON sa.source = src_a
               JOIN sz sb ON sb.source = src_b
    """,
)
def text_source_jaccard_matrix(spark, sf_dir):
    """SOURCE-SIMILARITY matrix: pairwise Jaccard of the sources' BIGRAM
    vocabularies — the corpus-composition audit that finds mirror/scrape
    pairs BEFORE document-level dedup spends candidate pairs on them
    (two sources at Jaccard ≈ 1 are the same crawl twice; route one to
    dedup_cross_source_overlap for the row-level verdict). Bigram (not
    unigram) vocabularies keep the statistic non-degenerate on the
    fixture and sharper in production. Scale: the intersect join is
    keyed on the BIGRAM TERM over the distinct (source, bigram) frame —
    vocabulary-sized, with per-term fan-out bounded by #sources (a
    catalog constant), never a doc-pair space; the output is the
    #sources² matrix."""
    d = load_table(spark, sf_dir, "documents")
    w = F.col("w")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(w) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(w, i + 1), F.element_at(w, i + 2)
        ),
    )
    v = persist_tracked(
        d.select("source", F.split("text", " ").alias("w"))
        .filter(F.size(w) >= 2)
        .select("source", F.explode(bigrams).alias("b"))
        .distinct()
    )  # consumed by sizes and both intersect sides
    sz = v.groupBy("source").agg(F.count("*").alias("n"))
    a = v.select(F.col("source").alias("src_a"), "b")
    b = v.select(F.col("source").alias("src_b"), F.col("b").alias("b_b"))
    inter = (
        a.join(
            b,
            (F.col("b") == F.col("b_b")) & (F.col("src_a") < F.col("src_b")),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common")
                * 1.0
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# -- PMI collocations (round 10, wave 11) --------------------------------------------


@query(
    "text_collocation_pmi",
    oracle="""
    WITH docs AS (SELECT string_split(text, ' ') AS w FROM documents),
    tok AS (SELECT UNNEST(w) AS t FROM docs),
    uni AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    tt AS (SELECT COUNT(*) AS t_total FROM tok),
    bg AS (SELECT w[i] AS w1, w[i+1] AS w2
           FROM docs, UNNEST(generate_series(1, len(w)-1)) AS t(i)),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
    bt AS (SELECT COUNT(*) AS b_total FROM bg),
    scored AS (
      SELECT w1 || ' ' || w2 AS bigram, c12,
             CAST(FLOOR(LN((c12 * 1.0 * t.t_total * t.t_total)
                           / (b.b_total * 1.0 * u1.c * u2.c)) * 1000000)
                  AS BIGINT) AS pmi_micro
      FROM c12 JOIN uni u1 ON u1.t = w1 JOIN uni u2 ON u2.t = w2
               CROSS JOIN tt t CROSS JOIN bt b
      WHERE c12 >= 5
    )
    SELECT bigram, CAST(c12 AS BIGINT) AS n, pmi_micro,
           ROUND(pmi_micro / 1000000.0, 6) AS pmi_nats
    FROM scored ORDER BY pmi_micro DESC, bigram LIMIT 25
    """,
)
def text_collocation_pmi(spark, sf_dir):
    """COLLOCATION extraction by pointwise mutual information: the top
    adjacent word pairs whose co-occurrence beats independence —
    PMI = ln(p(w1,w2)/(p(w1)p(w2))) with a min-count-5 support floor
    (raw PMI without it just surfaces hapax noise). The phrase-mining
    primitive behind tokenizer merge rules and multi-word stopword
    lists. Determinism: PMI quantizes to integer micro-nats in ONE
    double expression on exact integer counts, and the top-25 orders by
    (pmi_micro, bigram) — no float ordering anywhere. Scale: unigram
    and bigram count tables (term-keyed joins), two one-row totals
    broadcast, TakeOrdered top-k — never a global sort."""
    d = load_table(spark, sf_dir, "documents")
    w = F.col("w")
    docs = persist_tracked(
        d.select(F.split("text", " ").alias("w"))
    )  # consumed by the unigram and bigram legs
    tok = docs.select(F.explode(w).alias("t"))
    uni = tok.groupBy("t").agg(F.count("*").alias("c"))
    tt_row = tok.agg(F.count("*").alias("t_total"))
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(w) - 2),
        lambda i: F.struct(
            F.element_at(w, i + 1).alias("w1"),
            F.element_at(w, i + 2).alias("w2"),
        ),
    )
    bg = (
        docs.filter(F.size(w) >= 2)
        .select(F.explode(bigrams).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    bt_row = bg.agg(F.count("*").alias("b_total"))
    u1 = uni.select(F.col("t").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("t").alias("w2"), F.col("c").alias("c2"))
    scored = (
        c12.filter(F.col("c12") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tt_row))
        .crossJoin(F.broadcast(bt_row))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("c12").alias("n"),
            F.floor(
                F.log(
                    (F.col("c12") * 1.0 * F.col("t_total") * F.col("t_total"))
                    / (F.col("b_total") * 1.0 * F.col("c1") * F.col("c2"))
                )
                * 1000000
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(F.desc("pmi_micro"), F.asc("bigram")).limit(25).select(
        "bigram",
        "n",
        "pmi_micro",
        F.round(F.col("pmi_micro") / 1000000.0, 6).alias("pmi_nats"),
    )
